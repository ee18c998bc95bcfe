#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tool only; the
engine itself is pure Scala/Spark — see src/main/scala).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each <verifyOutDir>/<name>/ parquet dump produced by graft.Verify, runs
the matching SQL from oracle_sql.json in DuckDB over the same sf tables,
sorts columns by name, sorts rows, and compares values exactly — the same
shape of check the driver applies. Exit code 1 if any query mismatches.
Each [OK]/[FAIL] line carries that query's compare wall (the DuckDB run
plus the canonical sort), and the five slowest compares close the report.

Regression note (r2): the DuckDB side MUST go through fetch_arrow_table(),
not fetchall(). fetchall() coerces DECIMAL(38,0) — what DuckDB returns for
SUM over integer columns — to Python int, hiding the exact kind mismatch
(decimal.Decimal vs int64) that the driver's Arrow-based gate sees. That
divergence produced false local greens on q12/q34/q49/q53 for two rounds.
"""
import json
import math
import os
import sys
import time

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)


def canon(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [names[i] for i in order], out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    # Provenance guard: refuse to compare a dump produced from a different
    # scale factor (or a stale pre-manifest dump) — both directions of that
    # mistake silently corrupt the gate (phantom mismatches / false greens).
    mpath = os.path.join(out_dir, "manifest.json")
    if not os.path.exists(mpath):
        sys.exit(f"REFUSING: {mpath} missing — stale or pre-manifest dump; "
                 f"re-run graft.Verify")
    with open(mpath) as f:
        manifest = json.load(f)
    if manifest.get("sf_dir") != os.path.realpath(sf_dir):
        sys.exit(f"REFUSING: dump was produced from {manifest.get('sf_dir')} "
                 f"but compare target is {os.path.realpath(sf_dir)}")
    if manifest.get("failed"):
        sys.exit(f"REFUSING: Verify recorded failed queries "
                 f"[{manifest['failed']}] — no dumps exist for them; "
                 f"fix and re-run graft.Verify")
    print(f"  manifest ok: sf={manifest['sf_dir']} sha={manifest.get('git_sha', '?')[:12]} "
          f"at {manifest.get('written_at', '?')}")
    con = duckdb.connect()
    for tbl in TABLES:
        p = os.path.join(sf_dir, f"{tbl}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    failures, walls = [], {}
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        t0 = time.perf_counter()
        failure, ok = compare(con, oracle, name, qdir)
        walls[name] = time.perf_counter() - t0
        if failure is None:
            print(f"  {ok} ({walls[name]:.2f} s)")
        else:
            failures.append((name, failure))

    if failures:
        print("\nFAILURES:")
        for n, msg in failures:
            print(f"  [FAIL] {n}: {msg} ({walls[n]:.2f} s)")
    print("\nslowest compares:")
    for n in sorted(walls, key=walls.get, reverse=True)[:5]:
        print(f"  {walls[n]:9.2f} s  {n}")
    if failures:
        sys.exit(1)
    print("\nall queries match")


def compare(con, oracle, name, qdir):
    """(failure message, None) on a mismatch, else (None, the [OK] or
    [rows-only] line)."""
    files = [os.path.join(qdir, f) for f in os.listdir(qdir)
             if f.endswith(".parquet")]
    spark_tbl = pq.read_table(files[0]) if files else None
    if spark_tbl is None:
        return "no spark output", None
    if name not in oracle:
        if spark_tbl.num_rows == 0:
            return "0 rows (rows-only check)", None
        return None, f"[rows-only] {name}: {spark_tbl.num_rows} rows"
    try:
        duck_tbl = con.execute(oracle[name]).fetch_arrow_table()
        duck_names = duck_tbl.column_names
        duck_rows = [tuple(duck_tbl.column(c)[i].as_py()
                           for c in range(duck_tbl.num_columns))
                     for i in range(duck_tbl.num_rows)]
    except Exception as e:
        return f"duckdb error: {e}", None
    s_names = spark_tbl.column_names
    s_rows = [tuple(spark_tbl.column(c)[i].as_py()
                    for c in range(spark_tbl.num_columns))
              for i in range(spark_tbl.num_rows)]
    sn, sr = canon(s_names, s_rows)
    dn, dr = canon(duck_names, duck_rows)
    if sn != dn:
        return f"schema mismatch: spark={sn} duck={dn}", None
    if len(sr) != len(dr):
        return f"rowcount: spark={len(sr)} duck={len(dr)}", None
    bad = [(a, b) for a, b in zip(sr, dr) if a != b]
    if bad:
        return (f"{len(bad)} value mismatches, first: "
                f"spark={bad[0][0]} duck={bad[0][1]}"), None
    return None, f"[OK] {name}: {len(sr)} rows, {len(sn)} cols"


if __name__ == "__main__":
    main()
