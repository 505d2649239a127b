"""Cross-scale correctness gate: hash-verify ALL contract queries
at a second scale (default sf0.1), closing the round-3 hole where 8
queries were hash-verified only at gate scale because their DuckDB
oracle is quadratic at 5k docs (exhaustive all-pairs Jaccard; 424k
multi-KB levenshteins feeding a recursive clustering CTE).

Two oracle downscalings make those 8 feasible WITHOUT weakening what
is independently re-derived:

* SAMPLED (pair-level queries — scored_pairs_nw, match_edges,
  doc_minhash_neardup): both sides restrict to the same deterministic
  pair stratum, substr(md5(id_a || '|' || id_b), 1, 2) <= XS_STRATUM
  (default '07' = 8/256 ~ 3.1%).  Spark filters its full output
  (for the two queries that also feed cluster certificates, the full
  output is written once to the side table and the sampled check
  reads it back filtered — one execution, no lost independence;
  XS_FRESH=1 re-executes those queries fresh instead, trading one
  extra execution for run-to-run nondeterminism coverage);
  DuckDB pushes the identical predicate below its expensive
  levenshtein / list_intersect projection, so the oracle recomputes
  the stratum EXHAUSTIVELY and the hashes must match exactly.  md5 of
  the same UTF-8 string is identical in Spark and DuckDB, so the
  stratum is drawn identically with no shared code.

* CERTIFICATE (cluster-chain queries — clusters,
  clusters_incremental, doc_neardup_clusters, doc_dedup_corpus,
  doc_training_corpus): the quadratic part of their oracle is edge
  derivation, which the SAMPLED checks above already verify on a
  stratum; the oracle here reads the Spark-produced edge list from a
  side table (the established token-hash convention) and INDEPENDENTLY
  re-derives everything downstream — symmetric closure via the
  recursive CTE, min-label components, representative selection, the
  linear quality/exact-dedup stages — then the full output hashes must
  match.  A supporting non-contract check (training_edges_sampled)
  stratum-verifies the training chain's internal edge set, which
  differs from doc_minhash_neardup's (post-quality, post-exact-dedup).

Everything else runs against its untouched full oracle, exactly as
the sf0.01 driver gate does.

Usage: python tools/cross_scale_check.py [sf_dir] [only,names]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from check_contract import (TABLES, frame_hash, make_duckdb_views,  # noqa: E402,F401
                            parse_only, run_checks)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
STRATUM = os.environ.get("XS_STRATUM", "07")
# XS_FRESH=1: the three read-back checks execute the Spark query a
# SECOND time instead of rereading the certificate side table, so
# run-to-run nondeterminism in those queries is caught (ADVICE r4:
# the reread saves one expensive execution but can't see it).  The
# side table is still written either way — the certificate oracles
# need it.  Costs roughly one extra full edge derivation per query.
XS_FRESH = os.environ.get("XS_FRESH") == "1"
DATA = os.path.join(REPO, "data")


def _stratum_sql(a: str, b: str) -> str:
    return (f"substr(md5(CAST({a} AS VARCHAR) || '|' || "
            f"CAST({b} AS VARCHAR)), 1, 2) <= '{STRATUM}'")


def _stratum_col():
    from pyspark.sql import functions as F
    return (F.substring(
        F.md5(F.concat_ws("|", F.col("id_a").cast("string"),
                          F.col("id_b").cast("string"))), 1, 2)
        <= STRATUM)


def _write_edges(df, path: str) -> str:
    df.coalesce(4).write.mode("overwrite").parquet(path)
    return f"SELECT id_a, id_b FROM read_parquet('{path}/*.parquet')"


def _read_back(spark, sql_fn, path: str, fresh_fn=None):
    """Materialize the side table (sql_fn writes it as a side effect)
    then read it back as the Spark side of a sampled check — or, under
    XS_FRESH=1, return a fresh second execution of the query instead
    (nondeterminism coverage; the side table is still written for the
    certificate oracles)."""
    sql_fn()
    if XS_FRESH and fresh_fn is not None:
        return fresh_fn()
    return spark.read.parquet(path)


def build_overrides(spark, sf_dir):
    """name -> (spark_df_fn, oracle_sql_fn, tag).  oracle_sql_fn runs
    AFTER the Spark side so certificate side tables exist."""
    from edlib_spark import driver_contract as dc

    edge_sql_cache: dict[str, str] = {}

    # Single definition per edge producer: the side-table writer AND
    # the XS_FRESH fresh_fn both call the same lambda, so the query
    # whose output feeds the certificate tables can never drift from
    # the one the fresh mode re-verifies.
    # (training keeps inter/union too: the sampled edge check rereads
    # that table instead of recomputing the whole chain; the
    # certificate SQL projects only id_a/id_b from it.)
    produce = {
        "events": lambda: dc.match_edges_events(spark, sf_dir),
        "docs": lambda: dc.doc_minhash_neardup(spark, sf_dir),
        "training": lambda: dc._training_exact_and_edges(spark,
                                                         sf_dir)[1],
    }

    # The expensive edge producers run ONCE each (twice under
    # XS_FRESH=1 — the fresh re-execution is the point there): the
    # full output is written to the certificate side table, the
    # sampled check reads it back with the stratum filter (both sides
    # are Spark-derived, so the reread loses no independence), and
    # the cluster certificates project id_a/id_b from the same table.
    # ONE constant per certificate table: every reader below
    # (writer, read-backs, the audit projection) derives from it,
    # so a path change cannot leave a stale second copy behind
    event_edges_pq = f"{DATA}/xs_event_edges.parquet"
    doc_edges_pq = f"{DATA}/xs_doc_edges.parquet"
    training_edges_pq = f"{DATA}/xs_training_edges.parquet"

    def _edge_sql(key: str, path: str) -> str:
        if key not in edge_sql_cache:
            edge_sql_cache[key] = _write_edges(produce[key](), path)
        return edge_sql_cache[key]

    def match_edge_sql() -> str:
        return _edge_sql("events", event_edges_pq)

    def doc_edge_sql() -> str:
        return _edge_sql("docs", doc_edges_pq)

    def doc_edge_sql_full() -> str:
        # cluster_audit's oracle needs the exact-Jaccard counts too;
        # the side table always carries the producer's full columns —
        # only the projection differs from doc_edge_sql()
        doc_edge_sql()
        return ("SELECT id_a, id_b, inter_count, union_count FROM "
                f"read_parquet('{doc_edges_pq}/*.parquet')")

    def training_edge_sql() -> str:
        return _edge_sql("training", training_edges_pq)

    sampled = f"sampled {STRATUM} stratum"
    over = {
        "scored_pairs_nw": (
            lambda: dc.scored_pairs_events(spark, sf_dir)
                      .where(_stratum_col()),
            lambda: dc._sql_scored(dc.TAU,
                                   _stratum_sql("p.id_a", "p.id_b")),
            sampled),
        "match_edges": (
            lambda: _read_back(spark, match_edge_sql,
                               event_edges_pq,
                               produce["events"])
                    .where(_stratum_col()),
            lambda: dc._sql_edges(_stratum_sql("p.id_a", "p.id_b")),
            sampled),
        "doc_minhash_neardup": (
            lambda: _read_back(spark, doc_edge_sql,
                               doc_edges_pq,
                               produce["docs"])
                    .where(_stratum_col()),
            lambda: dc._sql_minhash_neardup(
                _stratum_sql("a.doc_id", "b.doc_id")),
            sampled),
        "clusters": (
            lambda: dc.clusters_events(spark, sf_dir),
            lambda: dc._sql_clusters(match_edge_sql()),
            "certificate"),
        "clusters_incremental": (
            lambda: dc.clusters_incremental(spark, sf_dir),
            lambda: dc._sql_clusters(match_edge_sql()),
            "certificate"),
        "doc_neardup_clusters": (
            lambda: dc.doc_neardup_clusters(spark, sf_dir),
            lambda: dc._sql_neardup_clusters(doc_edge_sql()),
            "certificate"),
        "cluster_audit_documents": (
            lambda: dc.cluster_audit_documents(spark, sf_dir),
            lambda: dc._sql_cluster_audit(doc_edge_sql_full()),
            "certificate"),
        "golden_records_documents": (
            lambda: dc.golden_records_documents(spark, sf_dir),
            lambda: dc._sql_golden_records(doc_edge_sql()),
            "certificate"),
        "doc_dedup_corpus": (
            lambda: dc.doc_dedup_corpus(spark, sf_dir),
            lambda: dc._sql_dedup_corpus(doc_edge_sql()),
            "certificate"),
        "doc_training_corpus": (
            lambda: dc.doc_training_corpus(spark, sf_dir),
            lambda: dc._sql_doc_training_corpus(training_edge_sql()),
            "certificate"),
        "training_funnel_documents": (
            lambda: dc.training_funnel_documents(spark, sf_dir),
            lambda: dc._sql_training_funnel(training_edge_sql()),
            "certificate"),
        # supporting evidence (not a contract query): the training
        # chain's internal edge set, stratum-verified exhaustively.
        # Read back from the certificate side table (written by the
        # doc_training_corpus check earlier in the run) instead of
        # recomputing the full quality+dedup+minhash pass — both are
        # Spark-derived, so the reread loses no independence
        # (recomputed fresh under XS_FRESH=1).
        "training_edges_sampled": (
            lambda: _read_back(spark, training_edge_sql,
                               training_edges_pq,
                               produce["training"])
                    .where(_stratum_col()),
            lambda: (f"WITH {dc._sql_training_stages()}"
                     + dc._sql_jaccard_edges(
                         "grams", _stratum_sql("a.doc_id", "b.doc_id"))),
            sampled),
    }
    return over


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from edlib_spark.session import get_spark

    spark = get_spark("cross-scale-check", master="local[16]",
                      shuffle_partitions=32)
    con = duckdb.connect()
    make_duckdb_views(con, SF_DIR)

    qs = dict(entrymod.queries())
    oracles = entrymod.oracle_sql()
    over = build_overrides(spark, SF_DIR)
    qs["training_edges_sampled"] = None  # supporting check, spark in over
    only = parse_only(sys.argv, qs)
    n, failures = run_checks(spark, con, qs, oracles, SF_DIR, only, over)
    spark.stop()
    print(f"SUMMARY: {n} checks, {failures} failures at {SF_DIR} "
          f"(stratum <= '{STRATUM}')")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
