"""Synthetic scale-up of an sf dir for the round-5 soak (verdict item
7): a deterministic N-fold union of the four tables the contract reads
(events, documents, embeddings, customer), ids shifted per copy so
keys stay unique, row content untouched.

This is deliberately the ADVERSARIAL scale-up, not a gentle one:
identical cross-copy texts mean every planted near-dup family triples
and every length-band block gains cross-copy collisions, so candidate
pair counts grow ~N^2 in the blocked queries — exactly the stress that
flushes out partition-count and AQE-floor assumptions that only bite
past sf0.1.  Correctness is unaffected by the duplication: every
oracle re-derives from the same parquet.

Usage: python tools/make_soak_dir.py [src_sf_dir] [out_dir] [copies]
       (defaults: SRC below, <checkout>/data/soak_sf0.3, 3)
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = (sys.argv[2] if len(sys.argv) > 2
       else os.path.join(REPO, "data", "soak_sf0.3"))
COPIES = int(sys.argv[3]) if len(sys.argv) > 3 else 3
OFFSET = 10_000_000

# (table, [id columns to shift per copy])
SCALED = {
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "customer": ["c_custkey"],
}


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    for table, id_cols in SCALED.items():
        src = os.path.join(SRC, f"{table}.parquet")
        cols = [c[0] for c in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()]
        # the per-copy shift only keeps keys unique while every source
        # id sits in [0, OFFSET) — fail loudly instead of silently
        # producing cross-copy collisions on a bigger source dir
        # (negative ids would slide one copy's range into another's
        # even with max(id) < OFFSET)
        for c in id_cols:
            mn, mx = con.execute(
                f"SELECT min({c}), max({c}) FROM "
                f"read_parquet('{src}')").fetchone()
            if mx is not None and (mn < 0 or mx >= OFFSET):
                raise SystemExit(
                    f"{table}.{c} range [{mn}, {mx}] outside "
                    f"[0, {OFFSET}); raise OFFSET to keep per-copy "
                    f"ids disjoint")
        parts = []
        for k in range(COPIES):
            proj = ", ".join(
                f"{c} + {k * OFFSET} AS {c}" if c in id_cols else c
                for c in cols)
            parts.append(
                f"SELECT {proj} FROM read_parquet('{src}')")
        union = " UNION ALL ".join(parts)
        dst = os.path.join(OUT, f"{table}.parquet")
        con.execute(f"COPY ({union}) TO '{dst}' (FORMAT PARQUET)")
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        print(f"{table}: {n} rows -> {dst}")


if __name__ == "__main__":
    main()
