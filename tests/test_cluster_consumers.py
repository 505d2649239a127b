"""Cluster-consumer operators (round 5): per-cluster quality audit,
golden-record survivorship, and the graded evaluation queries — the
contract gate hash-verifies them against DuckDB; these tests pin the
SEMANTIC invariants (connectivity, survivorship rule, coherence with
the driver-side dict helpers) that a hash match alone can't explain.
"""

import pytest
from pyspark.sql import functions as F

from edlib_spark import driver_contract as dc

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def audit(spark):
    return dc.cluster_audit_documents(spark, SF).collect()


def test_cluster_audit_invariants(spark, audit):
    """Every multi-member cluster must be connected (n_edges >= n-1),
    its density must land in (0, 1], and every verified edge's exact
    Jaccard must clear the dedup threshold; singletons carry zero
    edges and NULL density/jaccard."""
    n_docs = dc._read(spark, SF, "documents").count()
    assert sum(r["n_members"] for r in audit) == n_docs
    multi = [r for r in audit if r["n_members"] > 1]
    assert multi, "fixture has no near-dup clusters"
    for r in multi:
        assert r["n_edges"] >= r["n_members"] - 1, r
        assert 0.0 < r["density"] <= 1.0, r
        assert r["min_jaccard"] >= 0.8, r
    for r in audit:
        if r["n_members"] == 1:
            assert r["n_edges"] == 0 and r["density"] is None \
                and r["min_jaccard"] is None, r


def test_cluster_audit_density_flags_chains(audit):
    """The audit's reason to exist: density 1.0 means every member
    pair was pairwise-verified (clique), below 1.0 means CC merged
    through a chain.  Cliques of size 2 are density-1.0 by
    construction, so the invariant must hold exactly."""
    for r in audit:
        if r["n_members"] == 2:
            assert r["n_edges"] == 1 and r["density"] == 1.0, r


def test_golden_records_survivorship_rule(spark):
    """One golden record per cluster; the survivor is the
    most-complete member (max n_chars, min doc_id tie-break), checked
    against an independent join of the assignment to the corpus."""
    golden = dc.golden_records_documents(spark, SF)
    clusters = dc.doc_neardup_clusters(spark, SF)
    docs = dc._read(spark, SF, "documents")
    best = (clusters.join(docs, "doc_id")
            .groupBy("cluster_id")
            .agg(F.max(F.struct(F.col("n_chars"), (-F.col("doc_id"))
                                .alias("neg_id"))).alias("b"),
                 F.count(F.lit(1)).alias("nm")))
    j = golden.join(best, "cluster_id").collect()
    assert j and len(j) == golden.count()
    for r in j:
        assert r["rep_n_chars"] == r["b"]["n_chars"], r
        assert r["rep_id"] == -r["b"]["neg_id"], r
        assert r["n_members"] == r["nm"], r


def test_linkage_eval_meets_north_rule_and_matches_dict_twin(spark):
    """The graded eval must report the same numbers as the driver-side
    plans/linkage.pairwise_f1 helper (bench reporting), and the
    flagship pipeline must meet the north rule's pairwise F1 >= 0.99
    on the planted-truth fixture."""
    from edlib_spark.plans.linkage import pairwise_f1
    row = dc.linkage_eval_small(spark, SF).collect()[0]
    assert row["pairwise_f1"] >= 0.99, row
    pred = dc.transcripts_clusters_small(spark, SF)
    truth = pred.select(
        "conv_id",
        F.substring_index("conv_id", "_", 1).alias("cluster_id"))
    d = pairwise_f1(pred, truth)
    assert row["tp"] == d["common_pairs"]
    assert row["tp"] + row["fp"] == d["pred_pairs"]
    assert row["tp"] + row["fn"] == d["true_pairs"]
    assert row["pairwise_precision"] == pytest.approx(d["precision"])
    assert row["pairwise_recall"] == pytest.approx(d["recall"])
    assert row["pairwise_f1"] == pytest.approx(d["f1"])


def test_bcubed_eval_invariants_and_matches_dict_twin(spark):
    """The B-cubed cell table must satisfy the metric's accounting
    identities (cells partition the N records; each mass is in (0, n])
    and its scalar rollup must equal plans/linkage.bcubed; on the
    planted-truth fixture the flagship clusters are exact, so every
    cell is pure AND complete (n = pred_size = truth_size) and
    B-cubed F1 = 1.0 — stricter than the >= 0.99 north rule."""
    from edlib_spark.plans.linkage import bcubed
    cells = dc.bcubed_eval_small(spark, SF).collect()
    pred = dc.transcripts_clusters_small(spark, SF)
    n_records = pred.count()
    assert sum(r["n"] for r in cells) == n_records
    for r in cells:
        assert 0 < r["n"] <= r["pred_size"], r
        assert r["n"] <= r["truth_size"], r
        assert r["precision_mass"] == pytest.approx(
            r["n"] ** 2 / r["pred_size"]), r
        assert r["recall_mass"] == pytest.approx(
            r["n"] ** 2 / r["truth_size"]), r
    p = sum(r["precision_mass"] for r in cells) / n_records
    rr = sum(r["recall_mass"] for r in cells) / n_records
    truth = pred.select(
        "conv_id",
        F.substring_index("conv_id", "_", 1).alias("cluster_id"))
    d = bcubed(pred, truth)
    assert d["n_records"] == n_records
    assert p == pytest.approx(d["precision"])
    assert rr == pytest.approx(d["recall"])
    assert d["f1"] == pytest.approx(1.0)
    for r in cells:
        assert r["n"] == r["pred_size"] == r["truth_size"], r


def _check_blocking_twin(spark):
    """The graded blocking audit's row equals the dict helper's over
    link_pairs' own pairs, keeps ALL true pairs (PC = 1.0 is why the
    structural blocker is the transcripts default) and prunes the vast
    majority of the pair space."""
    from edlib_spark.plans.linkage import blocking_quality, link_pairs
    from edlib_spark.sources.transcripts import ensure_transcripts_parquet
    row = dc.blocking_quality_small(spark, SF).collect()[0]
    assert row["pairs_completeness"] == 1.0, row
    assert row["reduction_ratio"] > 0.5, row
    assert (row["n_total_pairs"]
            == row["n_records"] * (row["n_records"] - 1) // 2)
    path = ensure_transcripts_parquet(spark, "small")
    front = link_pairs(spark.read.parquet(path))
    truth = front["canonical"].select(
        "conv_id",
        F.substring_index("conv_id", "_", 1).alias("cluster_id"))
    d = blocking_quality(front["pairs"], truth)
    assert row["n_records"] == d["n_records"]
    assert row["n_candidates"] == d["candidates"]
    assert row["n_truth_pairs"] == d["true_pairs"]
    assert row["n_covered_pairs"] == d["true_in_candidates"]
    assert row["reduction_ratio"] == pytest.approx(d["reduction_ratio"])
    assert row["pairs_completeness"] == pytest.approx(
        d["pairs_completeness"])


def test_blocking_quality_matches_dict_twin(spark):
    """Same coherence pin for the blocking audit: the graded query and
    plans/linkage.blocking_quality must agree on every count."""
    _check_blocking_twin(spark)


def test_blocking_quality_builds_no_scorer_or_cc(spark, monkeypatch):
    """Pairs-only callers build the pair front and nothing more: with
    the scorer and CC made to raise, the graded blocking audit and
    link_pairs still return the same row."""
    from edlib_spark.plans import linkage

    def back_half(*args, **kwargs):
        raise AssertionError("a pairs-only caller built the scorer or CC")
    monkeypatch.setattr(linkage, "score_pairs", back_half)
    monkeypatch.setattr(linkage, "cluster_assignments", back_half)
    _check_blocking_twin(spark)
