#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, one fresh JVM, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source (once per source change,
into .bench_build/), makes the workload's operation list from the seed,
runs it in a fresh JVM on local[<cores>] with a run-private temp dir,
checks every result against perfbench/expected.json, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the spans go to .bench_build/traces/).

perfbench/README.md describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")

RUN_LIMIT_S = 165        # the JVM's share of a run's 180 s, after any build

# --- workloads ---------------------------------------------------------------

# file-arrival: one operation is one producer file, count ~ randint(10,
# 1000) days in the reference (src/lambda_producer.py), run as
# q_reference_scale over count/FILE_SCALE days: files a twentieth of the
# reference's size, so a run holds enough of them for a median and a tail
# within its time budget. A block is the producer's size distribution by
# its quantiles: the midpoints of FILE_STRATA equal-probability strata of
# [10, 1000], in seeded order. Every run thus sees the same size mix, so
# runs compare across seeds without the sampling noise of a dozen random
# sizes.
FILE_STRATA = 12
FILE_SCALE = 20
WARMUP_DAYS = 10

# etl-mix: sub-second relational queries, one or two per family, and a
# file-stream ingest to a JSON sink (the streaming and file-output
# layers); their generated classes (about 160) overflow the 100-entry
# codegen cache.
ETL = [
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q13", "q_join_inner", "q_join_semi_anti",
    "q_agg_grouping_sets", "q_window_rank", "q_scalar_string", "q_sketch_theta",
    "q_topk_per_key", "q_stream_cron",
]

# curation: LLM-data operators whose cost is driver-side orchestration:
# the within-JVM memos (ngram dup groups; semantic probes built inside
# cluster groups), the Staging artifacts they build, shuffles, and an
# iterative graph loop. Each block runs every query four times, so a run
# has enough timed operations for a tail.
CURATION = ["q_dedup_keeper", "q_embed_cluster_labels", "q_graph_labelprop"]

BLOCKS = 32   # more timed blocks than any run can use


def file_days(count):
    return max(1, -(-count // FILE_SCALE))


def file_arrival(rng):
    width = (1000 - 10 + 1) / FILE_STRATA
    sizes = [file_days(round(10 + (k + 0.5) * width)) for k in range(FILE_STRATA)]
    blocks = []
    for _ in range(BLOCKS):
        b = [("q_reference_scale", d) for d in sizes]
        rng.shuffle(b)
        blocks.append(b)
    return [("q_reference_scale", WARMUP_DAYS)], blocks


def query_mix(queries, repeats):
    """The queries form a fixed cycle; the seed picks where the cold pass
    enters it. Each timed block continues the cycle `repeats` times, so
    every run sees the same sequence of neighbours and with it the same
    codegen-cache hit pattern."""
    def make(rng):
        k = rng.randrange(len(queries))
        order = [(q, 0) for q in queries[k:] + queries[:k]]
        return order, [order * repeats] * BLOCKS
    return make


WORKLOADS = {
    "file-arrival": file_arrival,
    "etl-mix": query_mix(ETL, 1),
    "curation": query_mix(CURATION, 4),
}

# --- plumbing ------------------------------------------------------------------

def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    p.add_argument("--scale", default="sf0.01", choices=["sf0.01", "sf0.001"],
                   help="input tables (sf0.001 is for the smoke test)")
    a = p.parse_args(argv)
    if a.seed < 0:
        p.error("--seed must be a non-negative integer")
    if not 1 <= a.seconds <= 600:
        p.error("--seconds must be between 1 and 600")
    return a


def source_files():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compiles program + harness with sbt when any source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the program's sources (src/main/scala) are not next to perfbench/")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        # resolve only from the local repositories, as the project's own
        # build does when it has no network
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        offline = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                   "-Dsbt.offline=true " if os.path.exists(repos) else "")
        env["SBT_OPTS"] = offline + "-Xmx2g"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=fh, timeout=800)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


def heap():
    """-Xmx from SPARK_DRIVER_MEM, else a quarter of MemTotal in [2g, 6g]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return f"{min(6, max(2, kb // (4 << 20)))}g"


# Spark 4 on JDK 17 needs these outside spark-submit; the root build.sbt
# passes the same list to forked runs and tests.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def launch(ops, data_dir, seconds, trace, tag):
    """Runs perfbench.Main in a fresh JVM; returns its records."""
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        with open(os.path.join(run_dir, "ops.tsv"), "w") as fh:
            for q, d in ops[0]:
                fh.write(f"cold\t{q}\t{d}\t0\n")
            for i, block in enumerate(ops[1], 1):
                for q, d in block:
                    fh.write(f"timed\t{q}\t{d}\t{i}\n")
        out = os.path.join(run_dir, "records.jsonl")
        # a pre-touched fixed heap makes peak RSS the heap plus the JVM's
        # native memory, instead of however far the heap happened to grow
        # (no hsperfdata file: the run writes nothing outside the checkout)
        cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+AlwaysPreTouch",
               "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += [
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
            "perfbench.Main", "--ops", os.path.join(run_dir, "ops.tsv"), "--data", data_dir,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace)]
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as fh:
            rc = run_child(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=RUN_LIMIT_S)
        if rc != 0 or not os.path.exists(out):
            tail = open(log, errors="replace").read()[-3000:]
            sys.stderr.write(tail)
            die(f"benchmark JVM failed (exit {rc})", 1)
        return [json.loads(l) for l in open(out)]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# --- results -------------------------------------------------------------------

def expected_key(query, days):
    return f"{query}@{days}" if days else query


def check(ops, expected):
    """Marks each op failed when it raised or its fingerprint differs."""
    failed = []
    for o in ops:
        want = expected.get(expected_key(o["query"], o["days"]))
        if not o["ok"]:
            failed.append(f'{o["query"]}: {o["error"]}')
        elif o["fp"] != want:
            failed.append(f'{o["query"]}@{o["days"]}: fingerprint {o["fp"]} != expected {want}')
    return failed


def tail(walls):
    """Latency at the highest percentile with at least ten samples beyond
    it, but never below p90 (nearest rank): a run of a few blocks has too
    few samples for ten beyond anything above the median."""
    s = sorted(walls)
    i = max(len(s) - 11, -(-9 * len(s) // 10) - 1)
    return s[i], 100.0 * (i + 1) / len(s)


def end_to_end(setup, cold, timed, run):
    busy = sum(o["wall_s"] for o in timed)
    return {
        "setup_s": setup["wall_s"],
        "op_p50_s": statistics.median(o["wall_s"] for o in timed),
        "op_tail_s": tail([o["wall_s"] for o in timed])[0],
        "ops_per_s": len(timed) / busy,
        "rows_per_s": sum(o["scan_records"] for o in timed) / busy,
        "cold_pass_s": sum(o["wall_s"] for o in cold),
        "peak_rss_mb": run["peak_rss_mb"],
    }


def span_ms(op, name):
    return sum(s["end_ms"] - s["start_ms"] for s in op["spans"] if s["name"] == name)


def per_layer(setup, ops, run):
    """Per-operation means over every operation of the traced run, except
    where a metric is the set-up's, a maximum or a run total."""
    n = len(ops)

    def total(key):
        return sum(o["counters"].get(key, 0.0) for o in ops)

    fn_ms = sum(span_ms(o, "fn") for o in ops)
    m = {
        "sessions.build_s": setup["build_s"],
        "sessions.ensure_ms": sum(o["self_ms"]["ensure"] for o in ops) / n,
        "partitioning.hint_ms": sum(o["self_ms"]["hint"] for o in ops) / n,
        "operators.build_s": fn_ms / n / 1000.0,
        "operators.build_share": fn_ms / 1000.0 / sum(o["wall_s"] for o in ops),
        "codegen.compile_ratio": total("codegen.compiles") / max(1.0, total("plan.wscg")),
        "task.peak_mem_mb": max(o["counters"].get("task.peak_mem_mb", 0.0) for o in ops),
        "staging.build_s": run["staging_build_s"],
    }
    for k in ("op", "fn", "exec", "job", "stage"):
        m[f"self.{k}_ms"] = sum(o["self_ms"][k] for o in ops) / n
    return lambda name: m[name] if name in m else total(name) / n


def load_expected(scale):
    with open(EXPECTED) as fh:
        e = json.load(fh)
    return dict(e["files"], **e[scale])


def cpu_times():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def main(argv):
    a = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build()
    cold, timed = WORKLOADS[a.workload](random.Random(a.seed))
    cpu0 = cpu_times()
    recs = launch((cold, timed), os.path.join(DATA, a.scale), a.seconds, a.trace,
                  f"{a.workload}-{a.seed}")
    cpu = [y - x for x, y in zip(cpu0, cpu_times())]
    setup = next(r for r in recs if r["kind"] == "setup")
    ops = [r for r in recs if r["kind"] == "op"]
    run = next(r for r in recs if r["kind"] == "run")
    cold_ops = [o for o in ops if o["phase"] == "cold"]
    timed_ops = [o for o in ops if o["phase"] == "timed"]
    failed = check(ops, load_expected(a.scale))
    for f in failed[:20]:
        print(f"# FAILED {f}")
    e2e = end_to_end(setup, cold_ops, timed_ops, run)
    _, pct = tail([o["wall_s"] for o in timed_ops])
    print(f"# workload={a.workload} seed={a.seed} scale={a.scale} cores={run['cores']} "
          f"heap_mb={run['heap_mb']:.0f} trace={a.trace} "
          f"cpu_steal={cpu[7] / max(1, sum(cpu)):.1%} cpu_idle={cpu[3] / max(1, sum(cpu)):.1%}")
    print(f"# op_tail_s is p{pct:.1f} of {len(timed_ops)} timed ops; cold pass {len(cold_ops)} ops; "
          f"fail_ratio={len(failed)}/{len(ops)}")
    if a.trace:
        print("# traced end-to-end: " + json.dumps({k: round(v, 6) for k, v in e2e.items()}))
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        path = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as fh:
            json.dump({"setup": setup, "ops": ops, "run": run}, fh)
        print(f"# spans and per-operation layer self times: {os.path.relpath(path, ROOT)}")
        value, declared = per_layer(setup, ops, run), spec["per_layer"]
    else:
        value, declared = e2e.__getitem__, spec["end_to_end"]
    metrics = {d["name"]: {"value": value(d["name"]), "unit": d["unit"]} for d in declared}
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])
