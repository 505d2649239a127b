"""End-to-end linkage pipeline tests on deterministic synthetic
transcripts: F1 vs ground truth, clustering, checkpoint/resume."""

import pytest
from pyspark.sql import functions as F

from edlib_spark.operators.clustering import (
    cluster_assignments, connected_components,
)
from edlib_spark.plans.catalog import RunCatalog
from edlib_spark.plans.linkage import (
    LinkageConfig, pairwise_f1, run_linkage,
)
from edlib_spark.sources.transcripts import (
    ground_truth_cluster, synth_transcripts,
)


def test_synth_transcripts_deterministic(spark):
    a = synth_transcripts(spark, 10, seed=42, num_partitions=2)
    b = synth_transcripts(spark, 10, seed=42, num_partitions=7)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b
    assert len(rows_a) > 0
    # schema contract (input_hint)
    assert [f.name for f in a.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("x", "y")],
        ["id_a", "id_b"])
    got = {r["conv_id"]: r["cluster_id"]
           for r in connected_components(edges).collect()}
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["d"] == got["e"] == "d"
    assert got["x"] == got["y"] == "x"


def test_connected_components_chain(spark):
    """Long path graph — worst case for naive propagation."""
    n = 60
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)],
        ["id_a", "id_b"])
    got = connected_components(edges)
    assert got.select("cluster_id").distinct().count() == 1
    assert got.count() == n + 1


def test_cc_driver_finish_equals_distributed(spark):
    """The hybrid fixpoint's driver union-find endgame must produce
    byte-identical assignments to the fully-distributed star loop, on
    random graphs with string AND bigint ids (driver_finish_max_edges=0
    forces the distributed path)."""
    import numpy as np
    rng = np.random.default_rng(99)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, 120, (300, 2))
             if a != b}
    str_edges = spark.createDataFrame(
        [(f"c{a:03d}", f"c{b:03d}") for a, b in pairs], ["id_a", "id_b"])
    int_edges = spark.createDataFrame(
        [(a, b) for a, b in pairs], "id_a long, id_b long")
    for edges in (str_edges, int_edges):
        fast = {tuple(r) for r in connected_components(edges).collect()}
        slow = {tuple(r) for r in connected_components(
            edges, driver_finish_max_edges=0).collect()}
        assert fast == slow
        assert len(fast) == len({r[0] for r in fast})  # one row per node


def test_cc_empty_edges_keep_id_type(spark):
    """An empty edge set yields an empty result typed like the ids."""
    for id_type in ("string", "bigint", "int"):
        edges = spark.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}")
        got = connected_components(edges)
        assert got.schema.simpleString() == (
            f"struct<conv_id:{id_type},cluster_id:{id_type}>")
        assert got.count() == 0


def test_cc_driver_finish_numeric_ids(spark):
    """The driver union-find keeps numeric ids numeric, int and bigint
    alike, with the component minimum as the cluster id."""
    for id_type in ("bigint", "int"):
        edges = spark.createDataFrame(
            [(3, 2), (2, 1), (10, 11), (7, 5)],
            f"id_a {id_type}, id_b {id_type}")
        got = connected_components(edges)
        assert got.schema.simpleString() == (
            f"struct<conv_id:{id_type},cluster_id:{id_type}>")
        assert sorted(tuple(r) for r in got.collect()) == [
            (1, 1), (2, 1), (3, 1), (5, 5), (7, 5), (10, 10), (11, 10)]


def test_cluster_assignments_includes_singletons(spark):
    nodes = spark.createDataFrame([("a",), ("b",), ("z",)], ["conv_id"])
    edges = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    got = {r["conv_id"]: r["cluster_id"]
           for r in cluster_assignments(nodes, edges).collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


@pytest.fixture(scope="module")
def linkage_result(spark):
    transcripts = synth_transcripts(spark, 120, seed=42).cache()
    result = run_linkage(transcripts, LinkageConfig())
    result["transcripts"] = transcripts
    yield result
    transcripts.unpersist()


def test_pipeline_f1_against_ground_truth(spark, linkage_result):
    clusters = linkage_result["clusters"]
    truth = clusters.select(
        "conv_id", ground_truth_cluster(F.col("conv_id")).alias("cluster_id"))
    m = pairwise_f1(clusters, truth)
    assert m["f1"] >= 0.99, m
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.99, m


def test_pipeline_scored_pairs_sane(spark, linkage_result):
    scored = linkage_result["scored"]
    bad = scored.where(
        (F.col("edit_distance") < -1)
        | ((F.col("edit_distance") >= 0) & (F.col("norm_distance") < 0))
        | (F.col("norm_distance") > 1.0)).count()
    assert bad == 0
    # at least the exact-duplicate variants score 0
    assert scored.where(F.col("edit_distance") >= 0).count() > 0


def test_pipeline_resume_from_checkpoint(spark, tmp_run_dir):
    """Interrupt after the blocks stage; resuming must (a) skip completed
    stages and (b) produce identical clusters."""
    transcripts = synth_transcripts(spark, 40, seed=7).cache()
    cfg = LinkageConfig()

    cat1 = RunCatalog(spark, tmp_run_dir, "run1")
    full = run_linkage(transcripts, cfg, catalog=cat1)
    clusters_full = sorted(map(tuple, full["clusters"].collect()))
    stages_done = {m["stage"] for m in cat1.manifests()}
    assert {"canonical", "blocks", "candidate_pairs", "scored_pairs",
            "edges", "clusters"} <= stages_done

    # simulate a partial run: copy only the first three stage checkpoints
    import shutil
    cat2 = RunCatalog(spark, tmp_run_dir, "run2")
    for st in ("canonical", "blocks", "candidate_pairs"):
        shutil.copytree(f"{tmp_run_dir}/run1/{st}",
                        f"{tmp_run_dir}/run2/{st}")
        shutil.copy(f"{tmp_run_dir}/run1/{st}.json",
                    f"{tmp_run_dir}/run2/{st}.json")
    resumed = run_linkage(transcripts, cfg, catalog=cat2)
    clusters_resumed = sorted(map(tuple, resumed["clusters"].collect()))
    assert clusters_resumed == clusters_full
    transcripts.unpersist()


def test_checkpoint_manifests_lineage(spark, tmp_run_dir):
    transcripts = synth_transcripts(spark, 15, seed=9)
    cat = RunCatalog(spark, tmp_run_dir, "runm")
    run_linkage(transcripts, LinkageConfig(), catalog=cat)
    for m in cat.manifests():
        assert m["rows"] == sum(p["rows"] for p in m["partitions"])
        assert m["wall_ms"] >= 0
        assert all("partition_id" in p for p in m["partitions"])


def test_pending_pairs_resume_delta(spark):
    from edlib_spark.operators.scoring import pending_pairs
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d")],
        "id_a string, id_b string")
    done = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string")
    got = {(r.id_a, r.id_b) for r in pending_pairs(pairs, done).collect()}
    assert got == {("a", "c"), ("b", "d")}
    # scoring the delta and unioning with done covers every pair
    assert got | {(r.id_a, r.id_b) for r in done.collect()} == \
        {(r.id_a, r.id_b) for r in pairs.collect()}


def test_incremental_cc_equals_batch(spark):
    """merge_edges_into_clusters(assignments(old), delta) must equal a
    full-batch recompute over old+delta, across random graphs covering:
    delta edges that merge existing clusters, fresh-node chains, edges
    internal to one cluster, and isolated singletons."""
    import random

    from edlib_spark.operators.clustering import (cluster_assignments,
                                                  merge_edges_into_clusters)

    rng = random.Random(77)
    for trial in range(4):
        n = 60
        nodes = [f"n{i:03d}" for i in range(n)]
        edges = set()
        while len(edges) < 50:
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
        edges = sorted(edges)
        cut = rng.randint(10, 40)
        old, delta = edges[:cut], edges[cut:]

        nodes_df = spark.createDataFrame([(x,) for x in nodes],
                                         "conv_id string")
        old_df = spark.createDataFrame(old, "id_a string, id_b string")
        delta_df = spark.createDataFrame(delta, "id_a string, id_b string")
        all_df = spark.createDataFrame(edges, "id_a string, id_b string")

        base = cluster_assignments(nodes_df, old_df)
        got = {(r.conv_id, r.cluster_id)
               for r in merge_edges_into_clusters(base, delta_df).collect()}
        want = {(r.conv_id, r.cluster_id)
                for r in cluster_assignments(nodes_df, all_df).collect()}
        assert got == want, (trial, sorted(got ^ want)[:10])


def test_incremental_cc_fresh_nodes(spark):
    """Delta edges introducing BRAND-NEW nodes (absent from the current
    assignment): fresh-only chains, fresh-to-existing attachments, and
    an untouched existing cluster."""
    from edlib_spark.operators.clustering import (cluster_assignments,
                                                  merge_edges_into_clusters)

    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "conv_id string")
    old = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    base = cluster_assignments(nodes, old)

    delta = spark.createDataFrame(
        [("c", "x1"),            # fresh x1 attaches to existing singleton c
         ("x2", "x3"),          # fresh-only component
         ("x3", "x4")],
        "id_a string, id_b string")
    got = {(r.conv_id, r.cluster_id)
           for r in merge_edges_into_clusters(base, delta).collect()}
    all_nodes = spark.createDataFrame(
        [(x,) for x in "abcd"] + [("x1",), ("x2",), ("x3",), ("x4",)],
        "conv_id string")
    all_edges = old.unionByName(delta)
    want = {(r.conv_id, r.cluster_id)
            for r in cluster_assignments(all_nodes, all_edges).collect()}
    assert got == want
