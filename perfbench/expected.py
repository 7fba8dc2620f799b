#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the fingerprints the benchmark's
output check compares every operation's result against.

    python3 perfbench/expected.py

Runs every distinct operation of every workload (each file size of
file-arrival, each query of the others) on both input scales, twice, in
two fresh JVMs, and writes the fingerprints only if both runs agree.
Run it only when a change is meant to alter results, and say so in that
change; the oracle-checked queries should first pass tools/local_check.py.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def fingerprints(ops, scale):
    recs = [run.launch((ops, []), os.path.join(run.DATA, scale), 1, 0, f"expected-{scale}-{i}")
            for i in (1, 2)]
    out = {}
    for a, b in zip(*[[r for r in rs if r["kind"] == "op"] for rs in recs]):
        key = run.expected_key(a["query"], a["days"])
        if not (a["ok"] and b["ok"]) or a["fp"] != b["fp"]:
            sys.exit(f"expected: {key} failed or is not deterministic: "
                     f"{a['fp'] or a['error']} vs {b['fp'] or b['error']}")
        out[key] = a["fp"]
    return out


def main():
    run.RUN_LIMIT_S = 3000
    run.build()
    queries = sorted({q for w in ("etl-mix", "curation")
                      for q, _ in run.WORKLOADS[w](run.random.Random(0))[0]})
    cold, blocks = run.file_arrival(run.random.Random(0))
    days = sorted({d for _, d in cold + blocks[0]})
    result = {"files": fingerprints([("q_reference_scale", d) for d in days], "sf0.01")}
    for scale in ("sf0.01", "sf0.001"):
        result[scale] = fingerprints([(q, 0) for q in queries], scale)
    with open(run.EXPECTED, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {sum(len(v) for v in result.values())} fingerprints to {run.EXPECTED}")


if __name__ == "__main__":
    main()
