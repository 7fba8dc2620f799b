#!/usr/bin/env python3
"""Compare the benchmark on two checkouts (a parent and a change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--out results.jsonl]
    python3 perfbench/compare.py --from results.jsonl

Runs `perfbench/run.py` on every workload of BENCHMARK.json, for its
`run_seconds`, in both checkouts in 10 alternating pairs (odd pairs
parent first, even pairs change first), each pair with its own seed
(pair i uses seed i on both sides), plus one traced run per side and
workload. Every result line is appended to --out (default
.bench_build/compare_results.jsonl), so a report can be redrawn with
--from. Bounds and directions come from BENCHMARK.json.

Per workload and end-to-end metric the report gives each side's median
and quartiles and a verdict:
  gain        the change wins >= 9/10 of the pairs and the medians differ
              by more than the parent's quartile spread (Q3 - Q1);
  regression  the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's spread exceeds the bound (and not every change
              run beats every parent run);
  same        otherwise.
A workload whose change runs fail more operations than the parent's, or
report a wrong result, is marked "wrong results" instead: none of its
metrics counts as a gain, and the tool exits non-zero.
Each workload row is flagged "counters moved" when a structural counter
of the traced runs (jobs, stages, tasks, compiles, plan nodes, shuffle
and scan volume) differs between the sides by more than 5% (codegen
compile counts alone vary by about 2% between identical runs, as
concurrent tasks can compile the same class), else "wall moved only"
when any wall metric is not "same", else "no change".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 10
COUNTERS = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks", "codegen.compiles",
            "plan.exchanges", "plan.smj", "plan.bhj", "plan.bnlj", "plan.wscg",
            "shuffle.write_mb", "shuffle.read_mb", "scan.records", "output.records"]


def one_run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1000)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"compare: run failed in {checkout}: {' '.join(cmd)}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def collect(a, spec, out):
    seconds = spec["run_seconds"]
    sides = [("parent", a.parent), ("change", a.change)]
    with open(out, "a") as fh:
        def save(side, w, seed, trace, r):
            fh.write(json.dumps({"side": side, "workload": w, "seed": seed, "trace": trace,
                                 "result": r}) + "\n")
            fh.flush()
        for w in (x["name"] for x in spec["workloads"]):
            for i in range(1, PAIRS + 1):
                order = sides if i % 2 else sides[::-1]
                for side, checkout in order:
                    save(side, w, i, 0, one_run(checkout, w, i, seconds, 0))
            for side, checkout in sides:
                save(side, w, 0, 1, one_run(checkout, w, 0, seconds, 1))


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(par, chg, better, bound):
    lower = better == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
    pq1, pmed, pq3 = quartiles(par)
    _, cmed, _ = quartiles(chg)
    spread = pq3 - pq1
    improved = cmed < pmed if lower else cmed > pmed
    worse_by = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
    all_better = (max(chg) < min(par)) if lower else (min(chg) > max(par))
    if improved and wins >= 0.9 * len(par) and abs(cmed - pmed) > spread:
        return "gain", wins
    if worse_by > bound:
        return "regression", wins
    if spread > bound * abs(pmed) and not all_better:
        return "unresolved", wins
    return "same", wins


def report(rows, spec):
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    exit_code = 0
    for w in [x["name"] for x in spec["workloads"]]:
        runs = [r for r in rows if r["workload"] == w]
        if not runs:
            continue
        untraced = {s: sorted((r for r in runs if r["side"] == s and r["trace"] == 0),
                              key=lambda r: r["seed"]) for s in ("parent", "change")}
        seeds = sorted({r["seed"] for r in untraced["parent"]} & {r["seed"] for r in untraced["change"]})
        pick = {s: [r for r in untraced[s] if r["seed"] in seeds] for s in untraced}
        failed = {s: sum(r["result"]["failed"] for r in runs if r["side"] == s)
                  for s in ("parent", "change")}
        wrong = failed["change"] > failed["parent"] or not all(
            r["result"]["correct"] for r in runs if r["side"] == "change")
        print(f"\n== {w}: {len(seeds)} pairs, failed ops parent {failed['parent']} "
              f"change {failed['change']}")
        print(f"{'metric':<14}{'parent Q1/med/Q3':>36}{'change Q1/med/Q3':>36}  wins  verdict")
        verdicts = []
        for name, m in e2e.items():
            par = [r["result"]["metrics"][name]["value"] for r in pick["parent"]]
            chg = [r["result"]["metrics"][name]["value"] for r in pick["change"]]
            if not par:
                continue
            v, wins = verdict(par, chg, m["better"], m["bound"])
            if wrong and v == "gain":
                v = "no gain: wrong results"
            verdicts.append(v)
            if v == "regression":
                exit_code = 1
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{name:<14}{fmt(quartiles(par)):>36}{fmt(quartiles(chg)):>36}"
                  f"  {wins:>2}/{len(par)}  {v}")
        traced = {s: [r["result"]["metrics"] for r in runs if r["side"] == s and r["trace"] == 1]
                  for s in ("parent", "change")}
        moved = []
        if traced["parent"] and traced["change"]:
            for c in COUNTERS:
                p = statistics.median(t[c]["value"] for t in traced["parent"])
                q = statistics.median(t[c]["value"] for t in traced["change"])
                if abs(q - p) > 0.05 * max(abs(p), 1e-9):
                    moved.append(f"{c} {p:.4g}->{q:.4g}")
        if wrong:
            exit_code = 1
            flag = "wrong results: the change fails more operations or returns wrong output"
        elif moved:
            flag = "counters moved: " + ", ".join(moved)
        elif any(v != "same" for v in verdicts):
            flag = "wall moved only"
        else:
            flag = "no change"
        print(f"-> {flag}")
    return exit_code


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent", nargs="?")
    p.add_argument("change", nargs="?")
    p.add_argument("--out", default=os.path.join(os.path.dirname(HERE), ".bench_build",
                                                  "compare_results.jsonl"))
    p.add_argument("--from", dest="source", help="report from an existing results file")
    a = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.source:
        path = a.source
    else:
        if not (a.parent and a.change):
            p.error("give PARENT_DIR and CHANGE_DIR, or --from FILE")
        path = a.out
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        collect(a, spec, path)
    with open(path) as fh:
        rows = [json.loads(l) for l in fh if l.strip()]
    sys.exit(report(rows, spec))


if __name__ == "__main__":
    main(sys.argv[1:])
