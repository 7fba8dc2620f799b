package graft

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions`-style wiring for sessions built outside
  * [[Sessions.build]] (e.g. spark-submit with
  * `--conf spark.sql.extensions=graft.GraftExtensions`): registers the
  * custom planner strategies, optimizer rule, and EVERY native function
  * from [[functions.Functions.specs]] — the same list
  * `Sessions.ensureConfigured` registers, so the two paths expose the
  * identical function/strategy/rule surface.
  *
  * Extensions cannot set session confs: reading the `events` table's
  * TIMESTAMP(NANOS) parquet additionally needs
  * `--conf spark.sql.legacy.parquet.nanosAsLong=true` on the submit
  * line (Spark 4 errors on that type otherwise —
  * `Sessions.ensureConfigured` sets it for the programmatic path).
  * Nor can they set static confs: the submit line also needs
  * `--conf spark.sql.codegen.cache.maxEntries=<N>`
  * ([[Sessions.CodegenCacheEntries]]), or every repeated query shape
  * recompiles once the JVM has generated more than Spark's default 100
  * classes (`Sessions.build` sets it for the programmatic path). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => plans.TopKStrategy)
    e.injectPlannerStrategy(_ => plans.SmallSortStrategy)
    e.injectOptimizerRule(_ => plans.RewriteRowNumberTopK)
    functions.Functions.specs.foreach { case (name, cls, builder) =>
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          cls.getName, name),
        builder))
    }
  }
}
