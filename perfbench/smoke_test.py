#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

1. Bad command lines (no arguments, an unknown workload, a missing or
   non-numeric seed, a bad --trace, an unknown flag) exit non-zero with
   a usage message and print no result.
2. A copy of just BENCHMARK.json and perfbench/ (no program sources)
   exits non-zero without a result.
3. A minimal run of every workload on the sf0.001 tables, untraced and
   traced: the last line is the result object, the output check passes,
   and every metric BENCHMARK.json declares is printed with its unit and
   a numeric value.
Exits 0 when all pass.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
failures = []


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    good = ["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
            "--trace", "0"]
    bad = {
        "no arguments": [],
        "unknown workload": ["--workload", "nope"] + good[2:],
        "missing seed": good[:2] + good[4:],
        "non-numeric seed": good[:3] + ["x"] + good[4:],
        "negative seed": good[:3] + ["-1"] + good[4:],
        "bad trace": good[:-1] + ["2"],
        "unknown flag": good + ["--fast"],
    }
    for what, args in bad.items():
        p = run(args)
        expect(p.returncode != 0 and "usage:" in p.stderr and not p.stdout.strip(),
               f"{what}: exit {p.returncode}, usage printed, no result")

    bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = run(good, cwd=bare)
        expect(p.returncode != 0 and not p.stdout.strip(),
               f"without program sources: exit {p.returncode}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            p = run(["--workload", w, "--seed", "7", "--seconds", "1", "--trace", str(trace),
                     "--scale", "sf0.001"])
            what = f"{w} trace={trace}"
            try:
                r = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                expect(False, f"{what}: result line (exit {p.returncode}) {p.stderr[-500:]}")
                continue
            expect(p.returncode == 0 and r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{what}: exit 0, correct, {r['attempted']} attempted, {r['failed']} failed")
            m = r["metrics"]
            for d in declared:
                got = m.get(d["name"], {})
                expect(got.get("unit") == d["unit"] and isinstance(got.get("value"), (int, float)),
                       f"{what}: {d['name']} = {got.get('value')} {got.get('unit')}")
            expect(set(m) == {d["name"] for d in declared}, f"{what}: no undeclared metrics")
    print(f"\n{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
