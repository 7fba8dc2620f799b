package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{QueryDef, Staging}
import graft.sources.Tables

/** Time-series repair: densify a sparse per-key series onto a regular
  * grid and linearly interpolate the gaps — the resample().interpolate()
  * shape of the reference's dataframe substrate, rebuilt as windows
  * over a generated spine (reference capability surface:
  * `layer/python/dask_processing.py:11-12`; spine precedent:
  * q_recursive_spine).
  *
  * Scale shape: the spine is bounded by the TIME RANGE (hours between
  * min and max), not by row count — it broadcasts. The series itself is
  * one aggregation, and the fill is two partitioned window passes
  * (bounded-preceding / bounded-following) over (key, grid) rows.
  * Parallelism is the series-key count; here that is 5 event types, at
  * 100 TB it is the per-entity key (millions of independent series) and
  * the same plan spreads across every executor with no global window.
  */
object SeriesOps {

  val defs: Seq[QueryDef] = Seq(
    // Hourly sum(value) per event_type over a dense 720-hour spine;
    // ~5% of grid cells have no events and get linearly interpolated
    // between the nearest observed hours (flat extrapolation at the
    // edges). Intermediate sums are rounded to 6 dp on BOTH engines so
    // the interpolation arithmetic runs on bit-identical doubles and
    // the final 6 dp hash compare is exact.
    QueryDef(
      "q_ts_interpolate",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // 2-scalar bounds read, same driver-side role as the recursive
        // spine's month bounds (TierA)
        val b = ev.agg(
          date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi")).head()
        val spine = s.range(1).select(explode(sequence(
          lit(b.getTimestamp(0)), lit(b.getTimestamp(1)),
          expr("interval 1 hour"))).as("hr"))
        val grid = ev.select(col("event_type")).distinct()
          // spine size = time range / granularity — bounded, broadcast;
          // the keys side is the one that scales
          .crossJoin(broadcast(spine))
        val series = ev
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(round(sum(col("value")), 6).as("v"))
        val wb = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // the backward fill ("next observed") runs as a RUNNING frame
        // over DESCENDING hour order, not CURRENT ROW..UNBOUNDED
        // FOLLOWING: Spark evaluates unbounded-following frames by
        // re-aggregating the remaining rows for EVERY row — O(n²) per
        // partition (measured 15× blowup on a 10×-longer grid) — while
        // running frames accumulate in O(n). Same rows, same result,
        // one extra sort under the same hash partitioning.
        val wfRev = Window.partitionBy(col("event_type"))
          .orderBy(col("hr").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val obsHr = when(col("v").isNotNull, col("hr"))
        val filled = grid.join(series, Seq("event_type", "hr"), "left")
          .select(col("event_type"), col("hr"), col("v"),
            last(col("v"), ignoreNulls = true).over(wb).as("pv"),
            last(obsHr, ignoreNulls = true).over(wb).as("pt"),
            last(col("v"), ignoreNulls = true).over(wfRev).as("nv"),
            last(obsHr, ignoreNulls = true).over(wfRev).as("nt"))
        filled.select(
          col("event_type"), col("hr"),
          round(
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNull, col("nv"))
              .when(col("nv").isNull, col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                ((unix_micros(col("hr")) - unix_micros(col("pt")))
                  .cast("double") /
                  (unix_micros(col("nt")) - unix_micros(col("pt"))))),
            6).as("value_filled"),
          when(col("v").isNull, lit(1L)).otherwise(lit(0L)).as("was_gap"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some(
        """WITH bounds AS (
          |  SELECT date_trunc('hour', min(ts)) AS lo,
          |         date_trunc('hour', max(ts)) AS hi FROM events),
          |spine AS (
          |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
          |  FROM bounds),
          |grid AS (
          |  SELECT event_type, hr
          |  FROM (SELECT DISTINCT event_type FROM events), spine),
          |series AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         round(sum(value), 6) AS v
          |  FROM events GROUP BY 1, 2),
          |f AS (
          |  SELECT g.event_type, g.hr, s.v,
          |         last_value(s.v IGNORE NULLS) OVER wb AS pv,
          |         last_value(CASE WHEN s.v IS NOT NULL THEN g.hr END
          |                    IGNORE NULLS) OVER wb AS pt,
          |         first_value(s.v IGNORE NULLS) OVER wf AS nv,
          |         first_value(CASE WHEN s.v IS NOT NULL THEN g.hr END
          |                     IGNORE NULLS) OVER wf AS nt
          |  FROM grid g LEFT JOIN series s USING (event_type, hr)
          |  WINDOW wb AS (PARTITION BY g.event_type ORDER BY g.hr
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |         wf AS (PARTITION BY g.event_type ORDER BY g.hr
          |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          |SELECT event_type, hr,
          |       round(CASE WHEN v IS NOT NULL THEN v
          |                  WHEN pv IS NULL THEN nv
          |                  WHEN nv IS NULL THEN pv
          |                  ELSE pv + (nv - pv) *
          |                       (CAST(epoch_us(hr) - epoch_us(pt) AS DOUBLE) /
          |                        (epoch_us(nt) - epoch_us(pt))) END,
          |             6) AS value_filled,
          |       CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_gap
          |FROM f ORDER BY event_type, hr""".stripMargin)
    ),

    // Rolling z-score anomaly detection per series: each hour's event
    // count against the mean/stddev of the TRAILING 24 observed hours
    // (current hour excluded — the baseline must not contain the point
    // it judges). Mean and variance derive from EXACT integer window
    // sums (Σc, Σc²), so the doubles fed into the fixed z formula are
    // bit-identical on both engines regardless of how each engine
    // organizes its sliding-window aggregation (DuckDB segment-tree vs
    // Spark per-row recompute); the anomaly flag compares the ROUNDED
    // z so the threshold is taken on identical 6 dp values. At counts
    // where c² outgrows a long (≥ ~10^9 events/hour) Σc² moves to
    // DECIMAL(38,0) — same plan, wider sum type.
    //
    // Scale shape: one partial-aggregated count shuffle, then windows
    // partitioned by series key — parallelism is the key count, no
    // global window (same posture as q_ts_interpolate above).
    QueryDef(
      "q_ts_anomaly",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(-24, -1)
        val scored = hourly.select(
          col("event_type"), col("hr"), col("c").as("n_events"),
          sum(col("c")).over(w).cast("double").as("s1"),
          sum(col("c") * col("c")).over(w).cast("double").as("s2"),
          count(col("c")).over(w).as("m"))
        val varExpr = (col("s2") - col("s1") * col("s1") / 24.0) / 23.0
        val zExpr = (col("n_events").cast("double") - col("s1") / 24.0) /
          sqrt(varExpr)
        scored
          .withColumn("z",
            when(col("m") === 24 && varExpr > 0.0, round(zExpr, 6)))
          .select(col("event_type"), col("hr"), col("n_events"),
            col("z"),
            coalesce(abs(col("z")) >= 2.0, lit(false)).as("is_anomaly"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |scored AS (
          |  SELECT event_type, hr, c AS n_events,
          |         CAST(sum(c) OVER w AS DOUBLE) AS s1,
          |         CAST(sum(c * c) OVER w AS DOUBLE) AS s2,
          |         count(c) OVER w AS m
          |  FROM hourly
          |  WINDOW w AS (PARTITION BY event_type ORDER BY hr
          |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
          |SELECT event_type, hr, n_events,
          |       CASE WHEN m = 24 AND (s2 - s1 * s1 / 24.0) / 23.0 > 0.0
          |            THEN round((CAST(n_events AS DOUBLE) - s1 / 24.0) /
          |                       sqrt((s2 - s1 * s1 / 24.0) / 23.0), 6)
          |       END AS z,
          |       coalesce(abs(CASE WHEN m = 24
          |                           AND (s2 - s1 * s1 / 24.0) / 23.0 > 0.0
          |                         THEN round((CAST(n_events AS DOUBLE)
          |                                     - s1 / 24.0) /
          |                              sqrt((s2 - s1 * s1 / 24.0) / 23.0), 6)
          |                    END) >= 2.0, false) AS is_anomaly
          |FROM scored ORDER BY event_type, hr""".stripMargin)
    ),

    // OHLC resample — the downsampling half of the reference substrate's
    // resample() surface (q_ts_interpolate above is the upsampling
    // half): 6-hour bars per series with open/close picked by min_by/
    // max_by on event time. `ts` is unique per series (FIXTURES.md), so
    // the pick is deterministic; a source with ts ties would compose
    // the ordering key with the unique event id. One partial-aggregated
    // shuffle on (series, bar) — min_by/max_by partial-combine like any
    // other aggregate, so the bar count, not the event count, crosses
    // the wire.
    QueryDef(
      "q_ts_resample",
      (s, dir) => {
        val bucketUs = 21600L * 1000000L // 6 h
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            timestamp_micros((floor(unix_micros(col("ts")) /
              bucketUs) * bucketUs).cast("long")).as("bar"))
          .agg(
            count(lit(1)).as("n_events"),
            min_by(col("value"), col("ts")).as("open_v"),
            max(col("value")).as("high_v"),
            min(col("value")).as("low_v"),
            max_by(col("value"), col("ts")).as("close_v"),
            round(sum(col("value")), 2).as("sum_v"))
          .orderBy(col("event_type"), col("bar"))
      },
      Some(
        """SELECT event_type,
          |       make_timestamp((epoch_us(ts) // 21600000000)
          |                      * 21600000000) AS bar,
          |       count(*) AS n_events,
          |       min_by(value, ts) AS open_v,
          |       max(value) AS high_v,
          |       min(value) AS low_v,
          |       max_by(value, ts) AS close_v,
          |       round(sum(value), 2) AS sum_v
          |FROM events GROUP BY 1, 2 ORDER BY event_type, bar""".stripMargin)
    ),

    // Cross-series correlation matrix: Pearson correlation between the
    // hourly COUNT series of every event-type pair, zero-filled on the
    // dense grid first (a count of 0 is an observation, not a gap — an
    // inner join on co-present hours would silently condition on
    // activity). The correlation derives from EXACT integer sums
    // (n, Σx, Σy, Σxy, Σx², Σy²); each variance term stays in BIGINT
    // and is cast to double only for the final multiply/sqrt/divide,
    // so both engines compute the identical IEEE doubles (same
    // discipline as q_ts_anomaly above).
    //
    // Scale shape: events collapse to the (series × hour) grid with a
    // map-combined count before anything else — the pair join and the
    // per-pair aggregate are sized by grid² over the hour axis, never
    // by the event count (the probe shows q_ts_anomaly flat to 30×
    // event volume for exactly this reason). With many series the
    // matrix is |series|²/2 pairs — the declared knob is pre-selecting
    // the series subset worth correlating, not this plan's shape.
    QueryDef(
      "q_ts_corr_matrix",
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
        val grid = hourly.select(col("hr")).distinct()
          .crossJoin(broadcast(hourly.select(col("event_type")).distinct()))
        val dense = grid.join(hourly, Seq("event_type", "hr"), "left")
          .select(col("event_type"), col("hr"),
            coalesce(col("c"), lit(0L)).as("c"))
        val a = dense.select(col("event_type").as("type_a"),
          col("hr"), col("c").as("ca"))
        val b = dense.select(col("event_type").as("type_b"),
          col("hr"), col("c").as("cb"))
        val agg = a.join(b, "hr")
          .where(col("type_a") < col("type_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("ca")).as("sx"), sum(col("cb")).as("sy"),
            sum(col("ca") * col("cb")).as("sxy"),
            sum(col("ca") * col("ca")).as("sxx"),
            sum(col("cb") * col("cb")).as("syy"))
        agg.select(col("type_a"), col("type_b"), col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast(DoubleType) *
                (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast(DoubleType)), 6).as("corr_c"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |grid AS (
          |  SELECT t.event_type, h.hr
          |  FROM (SELECT DISTINCT event_type FROM hourly) t
          |  CROSS JOIN (SELECT DISTINCT hr FROM hourly) h),
          |dense AS (
          |  SELECT g.event_type, g.hr, coalesce(c, 0) AS c
          |  FROM grid g LEFT JOIN hourly USING (event_type, hr)),
          |pairs AS (
          |  SELECT a.event_type AS type_a, b.event_type AS type_b,
          |         count(*) AS n, sum(a.c) AS sx, sum(b.c) AS sy,
          |         sum(a.c * b.c) AS sxy, sum(a.c * a.c) AS sxx,
          |         sum(b.c * b.c) AS syy
          |  FROM dense a JOIN dense b USING (hr)
          |  WHERE a.event_type < b.event_type
          |  GROUP BY 1, 2)
          |SELECT type_a, type_b, n,
          |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
          |             sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
          |                  CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_c
          |FROM pairs ORDER BY type_a, type_b""".stripMargin)
    ),

    // Exponentially weighted moving average — the ewm() half of the
    // rolling surface (q_ts_anomaly's plain frames are the other
    // half): trailing-24h window per series, weight (0.9)^age, the
    // adjusted/normalized form. The weighted dot product runs as a
    // sequential left fold over the frame array on BOTH engines
    // (Spark `aggregate` with 0.0 init ≡ DuckDB `list_reduce`: the
    // leading 0.0+x is IEEE-exact), and the frame array is collected
    // under the window's total order (hr is unique per series), so
    // the doubles agree bit-for-bit up to the shared libm pow — then
    // both sides round to 6 dp.
    //
    // Scale shape: identical to q_ts_anomaly — grid-sized window
    // partitioned by series key; the 24-element frame array is
    // per-row bounded state, not a collect.
    QueryDef(
      "q_ts_ewma",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(-23, Window.currentRow)
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
          .withColumn("vals",
            collect_list(col("c").cast(DoubleType)).over(w))
          .select(col("event_type"), col("hr"), col("c").as("n_events"),
            round(
              aggregate(
                transform(col("vals"), (x, i) =>
                  x * pow(lit(0.9), size(col("vals")) - 1 - i)),
                lit(0.0), (acc, x) => acc + x) /
              aggregate(
                transform(col("vals"), (x, i) =>
                  pow(lit(0.9), size(col("vals")) - 1 - i)),
                lit(0.0), (acc, x) => acc + x), 6).as("ewma"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |framed AS (
          |  SELECT event_type, hr, c,
          |         list(CAST(c AS DOUBLE)) OVER (
          |           PARTITION BY event_type ORDER BY hr
          |           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS vals
          |  FROM hourly)
          |SELECT event_type, hr, c AS n_events,
          |       round(
          |         list_reduce(list_transform(vals, (x, i) ->
          |             x * pow(0.9, len(vals) - i)), (a, b) -> a + b) /
          |         list_reduce(list_transform(vals, (x, i) ->
          |             pow(0.9, len(vals) - i)), (a, b) -> a + b), 6)
          |         AS ewma
          |FROM framed ORDER BY event_type, hr""".stripMargin)
    ),

    // Offline changepoint detection (single change in mean, CUSUM
    // family): for each series the candidate split t maximizing the
    // cumulative deviation |Σ_{i≤t} x_i − t·x̄| — scaled by n so the
    // statistic n·cum_t − t·S stays in EXACT integer arithmetic until
    // the final reported means (ties broken to the earliest hour, so
    // the argmax is total-ordered without ever comparing doubles).
    // The data-quality sweep a pipeline runs over its ingest volumes:
    // "did this source's rate shift, and when?".
    //
    // Scale shape: events collapse to the (series × hour) grid first;
    // the cumsum/argmax/mean passes are all partitioned by series key.
    // The grid is derived once and localCheckpoint'ed (bounded:
    // series × hours), so the argmax join and the report join do NOT
    // re-scan the events table — one fact scan at any scale.
    QueryDef(
      "q_ts_changepoint",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wCum = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("event_type"))
        val dev = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
          .select(col("event_type"), col("hr"),
            row_number().over(
              Window.partitionBy(col("event_type")).orderBy(col("hr")))
              .cast("long").as("t"),
            sum(col("c")).over(wCum).as("cum_c"),
            sum(col("c")).over(wAll).as("s_tot"),
            count(lit(1)).over(wAll).as("n_tot"))
          .where(col("t") < col("n_tot"))
          .withColumn("absc",
            abs(col("n_tot") * col("cum_c") - col("t") * col("s_tot")))
          .transform(Staging.pinned)
        val mx = dev.groupBy(col("event_type")).agg(max(col("absc")).as("m"))
        val best = dev.join(mx, "event_type")
          .where(col("absc") === col("m"))
          .groupBy(col("event_type")).agg(min(col("hr")).as("cp_hr"))
        dev.join(best, "event_type")
          .where(col("hr") === col("cp_hr"))
          .select(col("event_type"), col("cp_hr"), col("t").as("cp_t"),
            col("absc").as("max_dev"),
            round(col("cum_c").cast(DoubleType) / col("t"), 6)
              .as("mean_pre"),
            round((col("s_tot") - col("cum_c")).cast(DoubleType) /
              (col("n_tot") - col("t")), 6).as("mean_post"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |cum AS (
          |  SELECT event_type, hr,
          |         row_number() OVER w AS t,
          |         sum(c) OVER w AS cum_c,
          |         sum(c) OVER (PARTITION BY event_type) AS s_tot,
          |         count(*) OVER (PARTITION BY event_type) AS n_tot
          |  FROM hourly
          |  WINDOW w AS (PARTITION BY event_type ORDER BY hr
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |dev AS (
          |  SELECT event_type, hr, t, cum_c, s_tot, n_tot,
          |         abs(n_tot * cum_c - t * s_tot) AS absc
          |  FROM cum WHERE t < n_tot),
          |mx AS (SELECT event_type, max(absc) AS m FROM dev GROUP BY 1),
          |best AS (
          |  SELECT d.event_type, min(d.hr) AS cp_hr
          |  FROM dev d JOIN mx ON d.event_type = mx.event_type
          |                    AND d.absc = mx.m
          |  GROUP BY 1)
          |SELECT d.event_type, b.cp_hr, d.t AS cp_t,
          |       CAST(d.absc AS BIGINT) AS max_dev,
          |       round(CAST(d.cum_c AS DOUBLE) / d.t, 6) AS mean_pre,
          |       round(CAST(d.s_tot - d.cum_c AS DOUBLE) /
          |             (d.n_tot - d.t), 6) AS mean_post
          |FROM dev d JOIN best b ON d.event_type = b.event_type
          |                      AND d.hr = b.cp_hr
          |ORDER BY d.event_type""".stripMargin)
    ),

    // Hour-of-day seasonal profile + deseasonalized spike count per
    // series: the seasonality half of the anomaly surface (q_ts_anomaly
    // judges against a trailing window; this judges against the
    // position-in-cycle baseline). The grid is ZERO-FILLED first —
    // a silent hour is an observation of 0, not a missing row, or the
    // profile biases high.
    //
    // Scale shape: same grid-first posture as the rest of the family —
    // events die in a map-combined hourly count; the zero-fill, the
    // 24-bucket profile and the spike join all run on the bounded
    // (key × hour) grid. The spike test c·n_hours > 2·sum_c is an
    // EXACT integer cross-multiplication — no mean is materialized, no
    // double compared; the only double is the display mean, rounded at
    // the end on both engines.
    QueryDef(
      "q_ts_seasonal",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val b = ev.agg(
          date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi")).head()
        val spine = s.range(1).select(explode(sequence(
          lit(b.getTimestamp(0)), lit(b.getTimestamp(1)),
          expr("interval 1 hour"))).as("hr"))
        val grid = ev.select(col("event_type")).distinct()
          .crossJoin(broadcast(spine))
        val hourly = ev
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
        val filled = grid.join(hourly, Seq("event_type", "hr"), "left")
          .select(col("event_type"), col("hr"),
            coalesce(col("c"), lit(0L)).as("c"),
            hour(col("hr")).cast("long").as("hod"))
        val prof = filled.groupBy(col("event_type"), col("hod"))
          .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("sum_c"))
        val spikes = filled.join(prof, Seq("event_type", "hod"))
          .filter(col("c") * col("n_hours") > lit(2L) * col("sum_c"))
          .groupBy(col("event_type"), col("hod"))
          .agg(count(lit(1)).as("ns"))
        prof.join(spikes, Seq("event_type", "hod"), "left")
          .select(col("event_type"), col("hod"), col("n_hours"),
            col("sum_c"),
            round(col("sum_c").cast(DoubleType) / col("n_hours"), 6)
              .as("mean_c"),
            coalesce(col("ns"), lit(0L)).as("n_spikes"))
          .orderBy(col("event_type"), col("hod"))
      },
      Some(
        """WITH bounds AS (
          |  SELECT date_trunc('hour', min(ts)) AS lo,
          |         date_trunc('hour', max(ts)) AS hi FROM events),
          |spine AS (
          |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
          |  FROM bounds),
          |grid AS (
          |  SELECT event_type, hr
          |  FROM (SELECT DISTINCT event_type FROM events), spine),
          |hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |filled AS (
          |  SELECT g.event_type, g.hr, coalesce(h.c, 0) AS c,
          |         hour(g.hr) AS hod
          |  FROM grid g LEFT JOIN hourly h USING (event_type, hr)),
          |prof AS (
          |  SELECT event_type, hod, count(*) AS n_hours, sum(c) AS sum_c
          |  FROM filled GROUP BY 1, 2),
          |spikes AS (
          |  SELECT f.event_type, f.hod, count(*) AS ns
          |  FROM filled f JOIN prof p USING (event_type, hod)
          |  WHERE f.c * p.n_hours > 2 * p.sum_c
          |  GROUP BY 1, 2)
          |SELECT p.event_type, p.hod, p.n_hours,
          |       CAST(p.sum_c AS BIGINT) AS sum_c,
          |       round(CAST(p.sum_c AS DOUBLE) / p.n_hours, 6) AS mean_c,
          |       coalesce(s.ns, 0) AS n_spikes
          |FROM prof p LEFT JOIN spikes s USING (event_type, hod)
          |ORDER BY p.event_type, p.hod""".stripMargin)
    ),

    // Rolling EXACT quantiles — the rolling().median()/quantile() half
    // of the reference substrate's rolling surface (q_ts_ewma is the
    // ewm() half): trailing-24h median and p90 of the hourly count per
    // series. Both engines interpolate with the same definition
    // (index h = (n−1)·q over the sorted frame, linear between ranks —
    // Spark `percentile`, DuckDB `quantile_cont`), and the frame
    // inputs are exact integers, so the interpolated doubles are
    // bit-identical and the 6 dp hash compare is exact.
    //
    // Scale shape: grid-first (the q_ts_anomaly discipline) — events
    // collapse to the (series × hour) grid under a map-combined count
    // before any window runs; the quantile then sorts only the ≤24-row
    // frame per grid cell, O(grid × frame log frame), independent of
    // event volume. The frame is a bounded trailing ROWS frame — never
    // an unbounded-FOLLOWING frame (the O(n²) class banned in
    // CLAUDE.md).
    QueryDef(
      "q_ts_rolling_quantile",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(-23, 0)
        hourly.select(
          col("event_type"), col("hr"), col("c").as("n_events"),
          count(col("c")).over(w).as("m"),
          round(expr("percentile(c, 0.5)").over(w), 6).as("med_24h"),
          round(expr("percentile(c, 0.9)").over(w), 6).as("p90_24h"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         count(*) AS c
          |  FROM events GROUP BY 1, 2)
          |SELECT event_type, hr, c AS n_events,
          |       count(c) OVER w AS m,
          |       round(quantile_cont(c, 0.5) OVER w, 6) AS med_24h,
          |       round(quantile_cont(c, 0.9) OVER w, 6) AS p90_24h
          |FROM hourly
          |WINDOW w AS (PARTITION BY event_type ORDER BY hr
          |             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
          |ORDER BY event_type, hr""".stripMargin)
    ),

    // Lag autocorrelation (the ACF diagnostic behind every seasonality
    // decision — q_ts_seasonal ASSUMES a 24 h cycle; this measures it):
    // lag-ℓ Pearson autocorrelation of the zero-filled hourly count
    // series for ℓ ∈ {1,2,3,6,12,24}, estimated as the correlation of
    // the series with its ℓ-shifted self over the overlapping window.
    // The q_ts_corr_matrix discipline verbatim: all five sums stay
    // exact integers and ONE shared cross-product formula
    // (n·Sxy−SxSy)/√((n·Sxx−Sx²)(n·Syy−Sy²)) produces the double, so
    // the 6 dp compare is exact. The moment sums are carried as
    // DECIMAL(38,0) on the Spark side to mirror DuckDB's silent
    // HUGEINT widening — at high event volume (hourly counts ~1e6
    // over long ranges) LONG products would hit Spark 4's ANSI
    // overflow error while DuckDB degrades gracefully; decimal keeps
    // both engines exact to 1e38 and the final double conversion of
    // an exact integer is bit-identical from either representation. The lag join aligns on an integer
    // hour INDEX (epoch-hour offset — exact double division under
    // 2⁵³, cast back to BIGINT on both engines), so a silently
    // missing grid hour cannot misalign a lag.
    //
    // Scale shape: grid-first; the 6-row lag spec explodes against the
    // grid (≤ 6×grid rows) and self-joins on (series, idx) — work is
    // grid-sized, never event-sized.
    QueryDef(
      "q_ts_autocorr",
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
        val lo = hourly.agg(min(col("hr"))).head().getTimestamp(0)
        val loMicros = lo.getTime * 1000L
        val grid = hourly.select(col("event_type")).distinct()
          .crossJoin(hourly.select(col("hr")).distinct())
        val dense = grid.join(hourly, Seq("event_type", "hr"), "left")
          .select(col("event_type"),
            ((unix_micros(col("hr")) - lit(loMicros)) / lit(3600000000L))
              .cast(LongType).as("idx"),
            coalesce(col("c"), lit(0L)).as("c"))
          .transform(Staging.pinned) // both sides of every lag join
        val lags = Seq(1, 2, 3, 6, 12, 24)
        val a = dense.withColumn("lag", explode(typedLit(lags)))
          .withColumn("lag", col("lag").cast(LongType))
        val b = dense.select(col("event_type"),
          col("idx").as("idx_b"), col("c").as("cb"))
        val cD = col("c").cast(DecimalType(19, 0))
        val cbD = col("cb").cast(DecimalType(19, 0))
        val agg = a.join(b,
            a("event_type") === b("event_type") &&
              col("idx_b") === col("idx") + col("lag"))
          .groupBy(a("event_type"), col("lag"))
          .agg(count(lit(1)).as("n"),
            sum(cD).as("sx"), sum(cbD).as("sy"),
            sum(cD * cbD).as("sxy"),
            sum(cD * cD).as("sxx"),
            sum(cbD * cbD).as("syy"))
        agg.select(a("event_type"), col("lag"), col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast(DoubleType) *
                (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast(DoubleType)), 6).as("acf"))
          .orderBy(a("event_type"), col("lag"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |b0 AS (SELECT min(hr) AS lo FROM hourly),
          |grid AS (
          |  SELECT t.event_type, h.hr
          |  FROM (SELECT DISTINCT event_type FROM hourly) t
          |  CROSS JOIN (SELECT DISTINCT hr FROM hourly) h),
          |dense AS (
          |  SELECT g.event_type,
          |         CAST((epoch_us(g.hr) - epoch_us(b0.lo)) / 3600000000
          |           AS BIGINT) AS idx,
          |         coalesce(c, 0) AS c
          |  FROM grid g LEFT JOIN hourly USING (event_type, hr), b0),
          |lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag),
          |agg AS (
          |  SELECT a.event_type, CAST(l.lag AS BIGINT) AS lag,
          |         count(*) AS n, sum(a.c) AS sx, sum(b.c) AS sy,
          |         sum(a.c * b.c) AS sxy, sum(a.c * a.c) AS sxx,
          |         sum(b.c * b.c) AS syy
          |  FROM dense a CROSS JOIN lags l
          |  JOIN dense b ON b.event_type = a.event_type
          |    AND b.idx = a.idx + l.lag
          |  GROUP BY 1, 2)
          |SELECT event_type, lag, n,
          |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
          |             sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
          |                  CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
          |FROM agg ORDER BY event_type, lag""".stripMargin)
    ),

    // CROSS-correlation lead-lag matrix between event-type series —
    // the companion of q_ts_autocorr for the question monitoring
    // actually asks ("do purchases FOLLOW clicks, and by how many
    // hours?"): Pearson r between series a at t and series b at t+L
    // for L ∈ −3..+3, for every ordered type pair a < b (negative lags
    // cover b-leads-a, so the half-matrix carries the full
    // information). Same cross-engine discipline as autocorr: exact
    // integer moment sums carried as DECIMAL(19,0) (mirrors DuckDB's
    // HUGEINT widening — no ANSI overflow cliff), one shared double
    // Pearson expression, 6 dp.
    //
    // Scale shape: grid-first — the fact table collapses to the
    // bounded (type × hour) grid once; the lag join is hash-equi on
    // the hour index with the pair restriction as a post-filter, and
    // its volume is |grid| × |types| × |lags| — bounded by the TIME
    // RANGE and the (small, fixed) type domain, flat in event volume.
    QueryDef(
      "q_ts_crosscorr",
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
        val lo = hourly.agg(min(col("hr"))).head().getTimestamp(0)
        val loMicros = lo.getTime * 1000L
        val grid = hourly.select(col("event_type")).distinct()
          .crossJoin(hourly.select(col("hr")).distinct())
        val dense = grid.join(hourly, Seq("event_type", "hr"), "left")
          .select(col("event_type"),
            ((unix_micros(col("hr")) - lit(loMicros)) / lit(3600000000L))
              .cast(LongType).as("idx"),
            coalesce(col("c"), lit(0L)).as("c"))
          .transform(Staging.pinned) // both sides of every lag join
        val lags = List(-3, -2, -1, 0, 1, 2, 3)
        val a = dense.select(col("event_type").as("type_a"),
            col("idx"), col("c"))
          .withColumn("lag", explode(typedLit(lags)))
          .withColumn("lag", col("lag").cast(LongType))
        val b = dense.select(col("event_type").as("type_b"),
          col("idx").as("idx_b"), col("c").as("cb"))
        val cD = col("c").cast(DecimalType(19, 0))
        val cbD = col("cb").cast(DecimalType(19, 0))
        val agg = a.join(b,
            col("idx_b") === col("idx") + col("lag") &&
              col("type_a") < col("type_b"))
          .groupBy(col("type_a"), col("type_b"), col("lag"))
          .agg(count(lit(1)).as("n"),
            sum(cD).as("sx"), sum(cbD).as("sy"),
            sum(cD * cbD).as("sxy"),
            sum(cD * cD).as("sxx"),
            sum(cbD * cbD).as("syy"))
        agg.select(col("type_a"), col("type_b"), col("lag"), col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast(DoubleType) *
                (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast(DoubleType)), 6).as("xcf"))
          .orderBy(col("type_a"), col("type_b"), col("lag"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |b0 AS (SELECT min(hr) AS lo FROM hourly),
          |grid AS (
          |  SELECT t.event_type, h.hr
          |  FROM (SELECT DISTINCT event_type FROM hourly) t
          |  CROSS JOIN (SELECT DISTINCT hr FROM hourly) h),
          |dense AS (
          |  SELECT g.event_type,
          |         CAST((epoch_us(g.hr) - epoch_us(b0.lo)) / 3600000000
          |           AS BIGINT) AS idx,
          |         coalesce(c, 0) AS c
          |  FROM grid g LEFT JOIN hourly USING (event_type, hr), b0),
          |lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
          |agg AS (
          |  SELECT a.event_type AS type_a, b.event_type AS type_b,
          |         CAST(l.lag AS BIGINT) AS lag,
          |         count(*) AS n, sum(a.c) AS sx, sum(b.c) AS sy,
          |         sum(a.c * b.c) AS sxy, sum(a.c * a.c) AS sxx,
          |         sum(b.c * b.c) AS syy
          |  FROM dense a CROSS JOIN lags l
          |  JOIN dense b ON b.idx = a.idx + l.lag
          |    AND a.event_type < b.event_type
          |  GROUP BY 1, 2, 3)
          |SELECT type_a, type_b, lag, n,
          |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
          |             sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
          |                  CAST(n * syy - sy * sy AS DOUBLE)), 6) AS xcf
          |FROM agg ORDER BY type_a, type_b, lag""".stripMargin)
    ),

    // Robust outlier detection via the modified z-score
    // 0.6745·(x−median)/MAD (Iglewicz–Hoaglin, |rz| ≥ 3.5) — the
    // MAD-based complement to q_ts_anomaly's rolling mean/σ: a level
    // shift or heavy tail corrupts the mean-based z, while the median
    // pair is 50%-breakdown robust. Both engines share the exact
    // (n−1)·q interpolated median (integer counts → halves are exact
    // doubles; |c−med| deviations are exact doubles → the second
    // median is exact too), so the 6 dp hash compare holds.
    //
    // Scale shape: grid-first — two grid-sized aggregates (median,
    // then MAD) and two grid-sized joins; nothing touches the fact
    // table after the initial map-combined hourly count.
    QueryDef(
      "q_ts_outlier_mad",
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
          .transform(Staging.pinned) // median + deviation paths share it
        val med = hourly.groupBy(col("event_type"))
          .agg(expr("percentile(c, 0.5)").as("med"))
        val dev = hourly.join(med, "event_type")
          .withColumn("dev", abs(col("c") - col("med")))
        val mad = dev.groupBy(col("event_type"))
          .agg(expr("percentile(dev, 0.5)").as("mad"))
        val rz = round((lit(0.6745) * (col("c") - col("med"))) /
          col("mad"), 6)
        dev.join(mad, "event_type")
          .select(col("event_type"), col("hr"), col("c").as("n_events"),
            when(col("mad") > 0.0, rz).as("rz"))
          .withColumn("is_outlier",
            coalesce(abs(col("rz")) >= 3.5, lit(false)))
          .orderBy(col("event_type"), col("hr"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |med AS (
          |  SELECT event_type, quantile_cont(c, 0.5) AS med
          |  FROM hourly GROUP BY 1),
          |dev AS (
          |  SELECT h.event_type, h.hr, h.c, m.med,
          |         abs(h.c - m.med) AS dev
          |  FROM hourly h JOIN med m USING (event_type)),
          |mad AS (
          |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
          |  FROM dev GROUP BY 1)
          |SELECT d.event_type, d.hr, d.c AS n_events,
          |       CASE WHEN m.mad > 0.0
          |            THEN round((0.6745 * (d.c - d.med)) / m.mad, 6)
          |       END AS rz,
          |       coalesce(abs(CASE WHEN m.mad > 0.0
          |            THEN round((0.6745 * (d.c - d.med)) / m.mad, 6)
          |       END) >= 3.5, false) AS is_outlier
          |FROM dev d JOIN mad m USING (event_type)
          |ORDER BY d.event_type, d.hr""".stripMargin)
    ),

    // Simple-exponential-smoothing FORECAST (the predict leg the
    // series family was missing): per series, the SES recurrence
    // s_t = α·x_t + (1−α)·s_{t−1} folded over the hour-ordered counts,
    // emitting the one-step-ahead forecast (= the final level), its
    // in-sample one-step MAE, and the skill ratio vs the naive
    // last-value forecast — the go/no-go diagnostic before trusting
    // SES on a series.
    //
    // Cross-engine float discipline: the fold is a SINGLE sequential
    // left fold carrying a 2-ELEMENT DOUBLE ARRAY [level, abs-err-sum]
    // — Spark `aggregate` with the head as init over the tail ≡ DuckDB
    // 2-arg `list_reduce` (which uses its first element as init); both
    // engines execute the identical IEEE sequence of *, +, abs (no
    // libm), so the doubles agree bit-for-bit before the 6dp rounding.
    // The accumulator is an ARRAY, not a struct, deliberately: DuckDB
    // v1.0's list_reduce MISCOMPUTES multi-field struct lambdas (a CSE
    // defect shares the 0.7·acc.s subexpression across fields — the
    // error field came back as acc.e + 0.7·|el.s − acc.s|, measured on
    // a 4-element probe); the list-typed accumulator folds correctly.
    // The naive-MAE terms are |int − int| — exact integer-valued
    // doubles, order-free. Collection order is total (list(... ORDER
    // BY hr) / sort_array of (hr, c) structs).
    //
    // Scale shape: one map-combined (series × hour) grid aggregate,
    // then one ARRAY per series (bounded by the time range, never by
    // event volume) and one O(grid) fold per series.
    QueryDef(
      "q_ts_forecast",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_hours"),
            max(col("hr")).as("last_hr"),
            sort_array(collect_list(struct(col("hr"),
              col("c").cast(DoubleType).as("c")))).as("pts"))
          .withColumn("xs", expr("transform(pts, p -> p.c)"))
          .withColumn("fold", expr(
            """aggregate(
              |  slice(transform(xs, x -> array(x, CAST(0.0 AS DOUBLE))),
              |        2, size(xs) - 1),
              |  array(element_at(xs, 1), CAST(0.0 AS DOUBLE)),
              |  (acc, el) -> array(
              |    0.3 * element_at(el, 1) + 0.7 * element_at(acc, 1),
              |    element_at(acc, 2) +
              |      abs(element_at(el, 1) - element_at(acc, 1))))"""
              .stripMargin.replaceAll("\n", " ")))
          // size >= 2 guard: Spark's sequence(2, 1) is DESCENDING and
          // element_at(xs, 2) would ANSI-error on a 1-hour series; a
          // single observation has no one-step errors (NULL metrics),
          // matching DuckDB's empty range(2, 2)
          .withColumn("naive_sum", expr(
            """CASE WHEN size(xs) >= 2 THEN aggregate(
              |  transform(sequence(2, size(xs)),
              |    t -> abs(element_at(xs, t) - element_at(xs, t - 1))),
              |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) END"""
              .stripMargin.replaceAll("\n", " ")))
          .select(col("event_type"), col("n_hours"), col("last_hr"),
            round(element_at(col("fold"), 1), 6).as("forecast"),
            when(col("n_hours") > 1,
              round(element_at(col("fold"), 2) / (col("n_hours") - 1), 6))
              .as("mae"),
            when(col("n_hours") > 1,
              round(col("naive_sum") / (col("n_hours") - 1), 6))
              .as("mae_naive"),
            when(col("naive_sum") > 0,
              round((element_at(col("fold"), 2) / (col("n_hours") - 1)) /
                (col("naive_sum") / (col("n_hours") - 1)), 6)).as("skill"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |ser AS (
          |  SELECT event_type, count(*) AS n_hours, max(hr) AS last_hr,
          |         list(CAST(c AS DOUBLE) ORDER BY hr) AS xs
          |  FROM hourly GROUP BY event_type),
          |folded AS (
          |  SELECT event_type, n_hours, last_hr, xs,
          |         list_reduce(
          |           list_transform(xs, x -> [x, CAST(0.0 AS DOUBLE)]),
          |           (acc, el) -> [0.3 * el[1] + 0.7 * acc[1],
          |                         acc[2] + abs(el[1] - acc[1])]) AS fold,
          |         list_reduce(
          |           list_prepend(CAST(0.0 AS DOUBLE),
          |             list_transform(range(2, n_hours + 1),
          |               t -> abs(xs[t] - xs[t - 1]))),
          |           (a, b) -> a + b) AS naive_sum
          |  FROM ser)
          |SELECT event_type, n_hours, last_hr,
          |       round(fold[1], 6) AS forecast,
          |       CASE WHEN n_hours > 1
          |            THEN round(fold[2] / (n_hours - 1), 6) END AS mae,
          |       CASE WHEN n_hours > 1
          |            THEN round(naive_sum / (n_hours - 1), 6) END
          |         AS mae_naive,
          |       CASE WHEN naive_sum > 0
          |            THEN round((fold[2] / (n_hours - 1)) /
          |                       (naive_sum / (n_hours - 1)), 6)
          |       END AS skill
          |FROM folded ORDER BY event_type""".stripMargin)
    ),

    // Holt's LINEAR-TREND forecast (double exponential smoothing,
    // α=0.3, β=0.1) — the trend-aware upgrade of q_ts_forecast's SES:
    //   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    //   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    // Initialized classically (l₂ = x₁... l from x₁, b from x₂−x₁),
    // folded over t = 3..n with a 3-ELEMENT DOUBLE-ARRAY accumulator
    // [level, trend, abs-err-sum] (ARRAY, not struct — the DuckDB v1.0
    // struct-lambda CSE defect documented at q_ts_forecast; the l_t
    // term appears expanded inside the b_t field on BOTH engines and
    // the list fold computes it correctly, verified against a scalar
    // replay). Emits the one-step forecast l+b, the trend itself, and
    // the in-sample one-step MAE over the n−2 folded steps. Same grid
    // scale shape as SES: one map-combined (series × hour) aggregate,
    // one bounded array per series, one O(grid) fold.
    QueryDef(
      "q_ts_holt",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_hours"),
            max(col("hr")).as("last_hr"),
            sort_array(collect_list(struct(col("hr"),
              col("c").cast(DoubleType).as("c")))).as("pts"))
          .withColumn("xs", expr("transform(pts, p -> p.c)"))
          .withColumn("fold", expr(
            """CASE WHEN size(xs) >= 3 THEN aggregate(
              |  slice(transform(xs,
              |          x -> array(x, CAST(0.0 AS DOUBLE),
              |                     CAST(0.0 AS DOUBLE))),
              |        3, size(xs) - 2),
              |  array(element_at(xs, 1),
              |        element_at(xs, 2) - element_at(xs, 1),
              |        CAST(0.0 AS DOUBLE)),
              |  (acc, el) -> array(
              |    0.3 * element_at(el, 1) +
              |      0.7 * (element_at(acc, 1) + element_at(acc, 2)),
              |    0.1 * ((0.3 * element_at(el, 1) +
              |      0.7 * (element_at(acc, 1) + element_at(acc, 2))) -
              |      element_at(acc, 1)) + 0.9 * element_at(acc, 2),
              |    element_at(acc, 3) + abs(element_at(el, 1) -
              |      (element_at(acc, 1) + element_at(acc, 2))))) END"""
              .stripMargin.replaceAll("\n", " ")))
          .select(col("event_type"), col("n_hours"), col("last_hr"),
            round(element_at(col("fold"), 1) + element_at(col("fold"), 2), 6)
              .as("forecast"),
            round(element_at(col("fold"), 2), 6).as("trend"),
            round(element_at(col("fold"), 3) / (col("n_hours") - 2), 6)
              .as("mae"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |ser AS (
          |  SELECT event_type, count(*) AS n_hours, max(hr) AS last_hr,
          |         list(CAST(c AS DOUBLE) ORDER BY hr) AS xs
          |  FROM hourly GROUP BY event_type),
          |folded AS (
          |  SELECT event_type, n_hours, last_hr,
          |    CASE WHEN n_hours >= 3 THEN list_reduce(
          |      list_prepend([xs[1], xs[2] - xs[1], CAST(0.0 AS DOUBLE)],
          |        list_transform(xs[3:],
          |          x -> [x, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)])),
          |      (acc, el) -> [
          |        0.3 * el[1] + 0.7 * (acc[1] + acc[2]),
          |        0.1 * ((0.3 * el[1] + 0.7 * (acc[1] + acc[2])) - acc[1])
          |          + 0.9 * acc[2],
          |        acc[3] + abs(el[1] - (acc[1] + acc[2]))]) END AS fold
          |  FROM ser)
          |SELECT event_type, n_hours, last_hr,
          |       round(fold[1] + fold[2], 6) AS forecast,
          |       round(fold[2], 6) AS trend,
          |       round(fold[3] / (n_hours - 2), 6) AS mae
          |FROM folded ORDER BY event_type""".stripMargin)
    ),

    // Holt-Winters ADDITIVE SEASONAL forecast (triple exponential
    // smoothing, α=0.3 / β=0.1 / γ=0.2, period m=24 — the daily cycle
    // of hourly counts):
    //   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    //   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    //   s_t = γ(x_t − l_{t−1} − b_{t−1}) + (1−γ)s_{t−m}
    // The seasonal-aware upgrade of q_ts_holt, and the model the
    // fixture actually calls for (q_ts_seasonal proves the daily
    // profile; q_ts_autocorr proves the 24 h cycle). Runs on the
    // ZERO-FILLED grid (q_ts_seasonal discipline) so the 24-slot
    // seasonal index cannot misalign on silent hours. Classical init
    // from the first two seasons (l₀ = mean of season 1, b₀ = the
    // season-over-season slope, s_i = x_i − l₀), then ONE sequential
    // fold from t=25 carrying a 27-element DOUBLE-ARRAY accumulator
    // [level, trend, s_{t−23}..s_t (rotating 24-slot buffer),
    // |err|-sum] — array, not struct (the DuckDB v1.0 struct-lambda
    // CSE defect at q_ts_forecast); the buffer rotates by slicing so
    // s_{t−m} is always slot 3, and every scalar update is expanded
    // inline IDENTICALLY in both engines, so the doubles agree
    // bit-for-bit through ~700 folded steps, rounded 6 dp at the end.
    // Scale: one map-combined (series × hour) aggregate, one bounded
    // array per series, one O(grid) fold — flat in event volume,
    // linear in time range, like SES/Holt.
    QueryDef(
      "q_ts_holtwinters",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val b = ev.agg(
          date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi")).head()
        val spine = s.range(1).select(explode(sequence(
          lit(b.getTimestamp(0)), lit(b.getTimestamp(1)),
          expr("interval 1 hour"))).as("hr"))
        val grid = ev.select(col("event_type")).distinct()
          .crossJoin(broadcast(spine))
        val hourly = ev
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
        val sum1 = "aggregate(slice(xs, 1, 24), cast(0.0 as double), " +
          "(a, x) -> a + x)"
        val sum2 = "aggregate(slice(xs, 25, 24), cast(0.0 as double), " +
          "(a, x) -> a + x)"
        grid.join(hourly, Seq("event_type", "hr"), "left")
          .select(col("event_type"), col("hr"),
            coalesce(col("c"), lit(0L)).cast(DoubleType).as("c"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_hours"),
            max(col("hr")).as("last_hr"),
            sort_array(collect_list(struct(col("hr"), col("c")))).as("pts"))
          .withColumn("xs", expr("transform(pts, p -> p.c)"))
          .withColumn("fold", expr(
            s"""CASE WHEN size(xs) >= 49 THEN aggregate(
              |  slice(xs, 25, size(xs) - 24),
              |  concat(
              |    array($sum1 / 24.0D,
              |          ($sum2 - $sum1) / 576.0D),
              |    transform(slice(xs, 1, 24), x -> x - $sum1 / 24.0D),
              |    array(cast(0.0 as double))),
              |  (acc, x) -> concat(
              |    array(
              |      0.3 * (x - element_at(acc, 3)) +
              |        0.7 * (element_at(acc, 1) + element_at(acc, 2)),
              |      0.1 * ((0.3 * (x - element_at(acc, 3)) +
              |        0.7 * (element_at(acc, 1) + element_at(acc, 2))) -
              |        element_at(acc, 1)) + 0.9 * element_at(acc, 2)),
              |    slice(acc, 4, 23),
              |    array(
              |      0.2 * (x - element_at(acc, 1) - element_at(acc, 2)) +
              |        0.8 * element_at(acc, 3),
              |      element_at(acc, 27) + abs(x - (element_at(acc, 1) +
              |        element_at(acc, 2) + element_at(acc, 3)))))) END"""
              .stripMargin.replaceAll("\n", " ")))
          .select(col("event_type"), col("n_hours"), col("last_hr"),
            round(element_at(col("fold"), 1), 6).as("level"),
            round(element_at(col("fold"), 2), 6).as("trend"),
            round(element_at(col("fold"), 1) + element_at(col("fold"), 2) +
              element_at(col("fold"), 3), 6).as("forecast"),
            round(expr("array_max(slice(fold, 3, 24))") -
              expr("array_min(slice(fold, 3, 24))"), 6)
              .as("seasonal_amp"),
            round(element_at(col("fold"), 27) / (col("n_hours") - 24), 6)
              .as("mae"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH bounds AS (
          |  SELECT date_trunc('hour', min(ts)) AS lo,
          |         date_trunc('hour', max(ts)) AS hi FROM events),
          |spine AS (
          |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
          |  FROM bounds),
          |grid AS (
          |  SELECT event_type, hr
          |  FROM (SELECT DISTINCT event_type FROM events), spine),
          |hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |ser AS (
          |  SELECT g.event_type, count(*) AS n_hours, max(g.hr) AS last_hr,
          |         list(CAST(coalesce(h.c, 0) AS DOUBLE) ORDER BY g.hr)
          |           AS xs
          |  FROM grid g LEFT JOIN hourly h USING (event_type, hr)
          |  GROUP BY g.event_type),
          |folded AS (
          |  SELECT event_type, n_hours, last_hr,
          |    CASE WHEN n_hours >= 49 THEN list_reduce(
          |      list_prepend(
          |        [list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |           xs[1:24]), (a, x) -> a + x) / 24.0,
          |         (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |            xs[25:48]), (a, x) -> a + x) -
          |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |            xs[1:24]), (a, x) -> a + x)) / 576.0]
          |        || list_transform(xs[1:24], x ->
          |             x - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |               xs[1:24]), (a, x) -> a + x) / 24.0)
          |        || [CAST(0.0 AS DOUBLE)],
          |        list_transform(xs[25:], x ->
          |          list_prepend(CAST(x AS DOUBLE),
          |            list_transform(range(26),
          |              i -> CAST(0.0 AS DOUBLE))))),
          |      (acc, el) ->
          |        [0.3 * (el[1] - acc[3]) + 0.7 * (acc[1] + acc[2]),
          |         0.1 * ((0.3 * (el[1] - acc[3]) +
          |           0.7 * (acc[1] + acc[2])) - acc[1]) + 0.9 * acc[2]]
          |        || acc[4:26]
          |        || [0.2 * (el[1] - acc[1] - acc[2]) + 0.8 * acc[3],
          |            acc[27] + abs(el[1] - (acc[1] + acc[2] +
          |              acc[3]))]) END AS fold
          |  FROM ser)
          |SELECT event_type, n_hours, last_hr,
          |       round(fold[1], 6) AS level,
          |       round(fold[2], 6) AS trend,
          |       round(fold[1] + fold[2] + fold[3], 6) AS forecast,
          |       round(list_max(fold[3:26]) - list_min(fold[3:26]), 6)
          |         AS seasonal_amp,
          |       round(fold[27] / (n_hours - 24), 6) AS mae
          |FROM folded ORDER BY event_type""".stripMargin)
    )
  )
}
