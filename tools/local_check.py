#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate.

Usage:
  python3 tools/local_check.py [sfDir] [outDir] [--no-run]
                               [--against otherOutDir [--ordered]]
                               [query ...]

Runs `graft.Verify <sfDir> <outDir>` via sbt (unless --no-run), then for
every query with an oracle: executes the oracle SQL in DuckDB over views
named after the test tables, reads the Spark result parquet, sorts
columns by name and rows by value, and compares cell-by-cell.

With --against, every query dumped in outDir (oracled or not) is
compared the same way with its dump in otherOutDir instead of the
oracle, and column types must match exactly: the check that two builds
give the same answers. Parquet footers list encodings in hash order, so
two dumps of the same rows need not be byte-identical.

With --ordered (only with --against), a query whose oracle SQL (in
outDir/oracle_sql.json) ends in an ORDER BY must also hold its rows in
the same output order on both sides, part file by part file: the check
that a change moved no row. Rows that tie on every ORDER BY key may come
in either order; when a key is not an output column, the whole row is
the key. q_sketch_quantile and q_stream_quantile are skipped: they are
randomized KLL sketches whose values differ between two runs of the
same build.

This is dev tooling only — the engine itself is pure Scala/Spark.
"""
import glob
import json
import math
import os
import re
import subprocess
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def fetch_sorted(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    types = [str(t).upper() for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm_cell(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], [types[i] for i in order], rows


INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}


def type_mismatch(ot, st):
    """Reason string if this oracle/spark type pair would trip the driver's
    width-sensitive hash (cells_equal coerces numerically and cannot see
    it — the round-6 HUGEINT class). DuckDB widens sum(BIGINT) and
    BIGINT*BIGINT to HUGEINT; always CAST(... AS BIGINT) in oracles."""
    if ot == st:
        return None
    if ot in INT_TYPES and st in INT_TYPES:
        return f"integer width {ot} vs {st}"
    if ot.startswith("DECIMAL") or st.startswith("DECIMAL"):
        return f"decimal vs {st if ot.startswith('DECIMAL') else ot}"
    if "HUGEINT" in (ot, st):
        return f"{ot} vs {st}"
    return None


def cells_equal(a, b):
    if a == b:
        return True
    # numeric cross-type equality only (e.g. DuckDB DECIMAL vs double) —
    # deliberately EXACT, no epsilon: the driver hash-compares, so any
    # tolerance here would hide a real failure (verified: all oracles are
    # bit-exact both sides thanks to both-sides rounding)
    try:
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    except (TypeError, ValueError):
        return False


def diff(a, b, type_rule, labels):
    """Failure messages for result `b` against the reference result `a`
    (each as fetch_sorted returns it); empty when they match."""
    (acols, atypes, arows), (bcols, btypes, brows) = a, b
    la, lb = labels
    if [c.lower() for c in acols] != [c.lower() for c in bcols]:
        return [f"columns differ {la}={acols} {lb}={bcols}"]
    twarn = [f"col {c} type: {r}" for c, at, bt in zip(acols, atypes, btypes)
             for r in [type_rule(at, bt)] if r]
    if twarn:
        return twarn
    if len(arows) != len(brows):
        return [f"rowcount {la}={len(arows)} {lb}={len(brows)}"]
    for i, (arow, brow) in enumerate(zip(sorted(arows, key=repr),
                                         sorted(brows, key=repr))):
        for c, (x, y) in enumerate(zip(arow, brow)):
            if not cells_equal(x, y):
                return [f"row {i} col {acols[c]}: {la}={x!r} {lb}={y!r}"]
    return []


UNORDERED = {"q_sketch_quantile", "q_stream_quantile"}


def order_keys(sql, cols):
    """Indexes into `cols` (lowercased output column names) of the keys
    of the ORDER BY that `sql` ends in; None when it ends in none, []
    when a key is not an output column name."""
    m = list(re.finditer(r"\bORDER\s+BY\b", sql, re.I))
    if not m:
        return None
    tail = sql[m[-1].end():]
    tail = re.sub(r"\s+LIMIT\s+\d+\s*;?\s*$", "", tail, flags=re.I)
    tail = tail.strip().rstrip(";")
    if "(" in tail or ")" in tail or "'" in tail:
        return None if ")" in tail and "(" not in tail else []
    keys = []
    for item in tail.split(","):
        item = re.sub(r"\s+(ASC|DESC)?\s*(NULLS\s+(FIRST|LAST))?\s*$", "",
                      item.strip(), flags=re.I).strip().strip('"').lower()
        name = item.split(".")[-1]
        if name in cols:
            keys.append(cols.index(name))
        else:
            return []
    return keys


def order_diff(a, b, keys):
    """Failure messages when `b`'s rows are not in `a`'s output order;
    runs of rows equal on `keys` (all columns when empty) are compared
    as sets."""
    def runs(rows):
        out = []
        for r in rows:
            k = tuple(r[i] for i in keys) if keys else r
            if out and out[-1][0] == k:
                out[-1][1].append(r)
            else:
                out.append((k, [r]))
        return [(k, sorted(rs, key=repr)) for k, rs in out]
    for i, (x, y) in enumerate(zip(runs(a[2]), runs(b[2]))):
        if x != y:
            return [f"order: run {i} other={x[1][0]!r} this={y[1][0]!r}"]
    return []


def oracle_type_rule(ot, st):
    r = type_mismatch(ot, st)
    return r and (f"{r} (driver hash is width-sensitive; "
                  f"CAST the oracle column)")


def exact_type_rule(at, bt):
    return None if at == bt else f"{at} vs {bt}"


def dump(con, out_dir, name):
    return fetch_sorted(
        con, f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")


def dump_ordered(con, out_dir, name):
    """`dump` with the rows in output order: part files by name, rows by
    their position in the file."""
    return fetch_sorted(
        con, f"SELECT * EXCLUDE (filename, file_row_number) FROM read_parquet("
             f"'{out_dir}/{name}/*.parquet', filename=true, "
             f"file_row_number=true) ORDER BY filename, file_row_number")


def main():
    argv = sys.argv[1:]
    against = None
    if "--against" in argv:
        i = argv.index("--against")
        if i + 1 >= len(argv):
            sys.exit("--against needs the other Verify output directory")
        against = argv[i + 1]
        del argv[i:i + 2]
    args = [a for a in argv if not a.startswith("--")]
    no_run = "--no-run" in argv
    ordered = "--ordered" in argv
    if ordered and not against:
        sys.exit("--ordered needs --against")
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])

    if not no_run:
        sel = (" " + " ".join(sorted(only))) if only else ""
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}{sel}'],
            capture_output=True, text=True)
        sys.stdout.write(r.stdout[-3000:])
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            sys.exit(1)

    con = duckdb.connect()
    if against:
        def dumped(d):
            return {q for q in os.listdir(d)
                    if glob.glob(f"{d}/{q}/*.parquet")}
        # a query dumped on one side only fails as an exec error
        names = sorted(dumped(out_dir) | dumped(against))

        def pair(name):
            return dump(con, against, name), dump(con, out_dir, name)
        rule, labels = exact_type_rule, ("other", "this")
        if ordered:
            with open(f"{out_dir}/oracle_sql.json") as f:
                oracles = json.load(f)
    else:
        with open(f"{out_dir}/oracle_sql.json") as f:
            oracles = json.load(f)
        names = sorted(oracles)
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")

        def pair(name):
            return fetch_sorted(con, oracles[name]), dump(con, out_dir, name)
        rule, labels = oracle_type_rule, ("oracle", "spark")

    n_pass = n_fail = 0
    for name in names:
        if only and name not in only:
            continue
        if ordered and name in UNORDERED:
            print(f"SKIP {name}: a randomized sketch")
            continue
        try:
            a, b = pair(name)
        except Exception as ex:
            print(f"FAIL {name}: exec error: {str(ex)[:300]}")
            n_fail += 1
            continue
        bad = diff(a, b, rule, labels)
        keys = None
        if ordered and not bad and name in oracles:
            keys = order_keys(oracles[name], [c.lower() for c in a[0]])
            if keys is not None:
                bad = order_diff(dump_ordered(con, against, name),
                                 dump_ordered(con, out_dir, name), keys)
        for msg in bad:
            print(f"FAIL {name}: {msg}")
        if bad:
            n_fail += 1
        else:
            how = "" if keys is None else ", in order"
            print(f"PASS {name} ({len(a[2])} rows{how})")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
