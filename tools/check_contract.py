"""Local emulation of the driver's correctness gate: runs every
queries() entry on Spark and its oracle_sql() on DuckDB against the same
sf dir, comparing row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).

Usage: python tools/check_contract.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_value(v):
    import datetime
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_value(r[i]) for i in order)
                   for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def make_duckdb_views(con, sf_dir):
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def parse_only(argv, valid):
    """[q1,q2] CLI filter, validated: an unknown (typo'd/renamed) name
    must abort, never shrink the run to a vacuous 0-check pass."""
    if len(argv) <= 2:
        return None
    only = argv[2].split(",")
    unknown = sorted(set(only) - set(valid))
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}\n"
                 f"valid: {', '.join(sorted(valid))}")
    return only


def run_checks(spark, con, qs, oracles, sf_dir, only=None, over=None):
    """Shared run/compare/report loop for the gate emulation and the
    cross-scale checker: per query, run the Spark side, then the oracle
    SQL, compare column names + row count + order-insensitive value
    hash.  ``over`` maps names to (spark_fn, oracle_sql_fn, tag)
    overrides (sampled/certificate oracles); overridden oracle SQL is
    resolved AFTER the Spark side so certificate side tables exist.
    Returns (n_checked, failures)."""
    over = over or {}
    failures = 0
    for name in qs:
        if only and name not in only:
            continue
        tag = f" [{over[name][2]}]" if name in over else ""
        t0 = time.perf_counter()
        try:
            if name in over:
                sdf = over[name][0]()
            else:
                sdf = qs[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}", flush=True)
            failures += 1
            continue
        t_spark = time.perf_counter() - t0
        if name not in over and name not in oracles:
            print(f"rows  {name}: {len(srows)} rows "
                  f"({t_spark:.1f}s) [no oracle]", flush=True)
            continue
        t0 = time.perf_counter()
        try:
            sql = over[name][1]() if name in over else oracles[name]
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}", flush=True)
            failures += 1
            continue
        t_duck = time.perf_counter() - t0
        ok_cols = sorted(scols) == sorted(dcols)
        sh, dh = frame_hash(scols, srows), frame_hash(dcols, drows)
        ok = ok_cols and len(srows) == len(drows) and sh == dh
        failures += 0 if ok else 1
        print(f"{'OK  ' if ok else 'FAIL'}  {name}{tag}: "
              f"spark={len(srows)} duck={len(drows)} "
              f"cols={'=' if ok_cols else f'{scols} vs {dcols}'} "
              f"hash={'=' if sh == dh else f'{sh} vs {dh}'} "
              f"({t_spark:.1f}s spark, {t_duck:.1f}s oracle)", flush=True)
    n = len([k for k in qs if not only or k in only])
    return n, failures


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from edlib_spark.session import get_spark

    spark = get_spark("contract-check", master="local[8]",
                      shuffle_partitions=16)
    con = duckdb.connect()
    make_duckdb_views(con, SF_DIR)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = parse_only(sys.argv, qs)
    n, failures = run_checks(spark, con, qs, oracles, SF_DIR, only)
    spark.stop()
    print(f"SUMMARY: {n} queries checked, {failures} failures "
          f"({len(oracles)} oracle-backed total)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
