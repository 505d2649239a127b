"""Physical-plan shape regressions: the plans we tuned for must stay
tuned (broadcasts where intended, single Arrow boundary in the scorer,
column pruning reaching the parquet scan, no cartesian products)."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def transcripts_parquet(spark, tmp_path_factory):
    from edlib_spark.sources.transcripts import synth_transcripts
    path = str(tmp_path_factory.mktemp("plans") / "t.parquet")
    synth_transcripts(spark, n_clusters=30, seed=42).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def front(spark, transcripts_parquet):
    """The pair front as run_linkage builds it (canonical pinned)."""
    from edlib_spark.plans.linkage import link_pairs
    return link_pairs(spark.read.parquet(transcripts_parquet))


def scored_plan(front):
    """Plan of run_linkage's scored_pairs stage over ``front``."""
    from edlib_spark.operators.scoring import score_pairs
    return plan_of(score_pairs(front["pairs"], front["canonical"]),
                   "simple")


def test_scorer_plan_single_arrow_boundary_no_cartesian(front):
    p = scored_plan(front)
    assert p.count("ArrowEvalPython") == 1, p
    assert "CartesianProduct" not in p, p


def _exchanges(plan, keys):
    """Hash exchanges of ``plan`` whose keys start with ``keys``."""
    pat = re.compile(r"Exchange hashpartitioning\("
                     + "".join(rf"{k}#\d+, " for k in keys))
    return [ln.strip() for ln in plan.splitlines() if pat.search(ln)]


def test_pair_stage_has_one_pair_exchange(spark, front):
    """Blocks -> pairs -> scorer shuffles the skinny pairs once: block
    keys are unique by construction (no (conv_id, block_key) dedupe
    exchange), and the pair dedupe runs on the scorer's
    (id_a, id_b) -> defaultParallelism partitioning, so the text attach
    plans no exchange of its own."""
    p = scored_plan(front)
    assert not _exchanges(p, ["conv_id", "block_key"]), p
    pair_ex = _exchanges(p, ["id_a", "id_b"])
    par = spark.sparkContext.defaultParallelism
    assert len(pair_ex) == 1, p
    assert f", {par}), REPARTITION_BY_NUM" in pair_ex[0], pair_ex


def test_scorer_repartitions_pairs_from_elsewhere(spark):
    """Pairs that did not come from candidate_pairs still get the
    scorer's (id_a, id_b) -> defaultParallelism repartition."""
    from edlib_spark.operators.scoring import score_pairs

    canon = spark.createDataFrame(
        [("a", "xyz", 3), ("b", "xyy", 3)],
        "conv_id string, full_text string, text_len int")
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    p = plan_of(score_pairs(pairs, canon), "simple")
    par = spark.sparkContext.defaultParallelism
    pair_ex = _exchanges(p, ["id_a", "id_b"])
    assert len(pair_ex) == 1, p
    assert f", {par}), REPARTITION_BY_NUM" in pair_ex[0], pair_ex


def test_block_keys_unique_by_construction(spark):
    """build_blocks runs no dedupe: with one row per conv_id, its
    (conv_id, block_key) rows are unique by construction, with and
    without MinHash, even where bands and MinHash buckets collide
    (equal-length conversations, identical and near-duplicate
    texts)."""
    from edlib_spark.operators.canonicalize import canonicalize
    from edlib_spark.plans.linkage import LinkageConfig, build_blocks

    base = "the quick brown fox jumps over the lazy dog " * 4
    texts = [base, base, base[:-2] + "x ", "y" + base[1:],
             base[::-1], "z" * len(base)]
    rows = [(f"c{i}", turn, half) for i, text in enumerate(texts)
            for turn, half in enumerate((text[:80], text[80:]))]
    canon = canonicalize(spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"))
    for use_minhash in (False, True):
        blocks = build_blocks(canon, LinkageConfig(use_minhash=use_minhash))
        keys = [(r.conv_id, r.block_key) for r in blocks.collect()]
        assert len(keys) == len(set(keys)), (use_minhash, keys)
        # the collisions the deleted dedupe would have covered happen
        members = {}
        for conv, key in keys:
            members.setdefault(key, set()).add(conv)
        shared = {k for k, m in members.items() if len(m) > 1}
        assert any(k.startswith("st:") for k in shared), members
        if use_minhash:
            assert any(k.startswith("mh") for k in shared), members
        per_conv = 2 + (8 if use_minhash else 0)
        assert len(keys) == per_conv * len(texts), keys


def test_neardup_clusters_keep_native_ids(spark):
    """Near-dup CC runs on the bigint doc ids themselves: no string
    round trip, so no window re-min of the cluster id (one shuffle
    fewer in every near-dup cluster query)."""
    from edlib_spark import driver_contract as dc

    docs = spark.createDataFrame([(1, "a"), (2, "b"), (10, "c")],
                                 "doc_id bigint, text string")
    edges = spark.createDataFrame([(2, 10)], "id_a bigint, id_b bigint")
    clusters = dc._neardup_clusters_of(docs, edges)
    p = plan_of(clusters, "simple")
    assert "Window" not in p, p
    assert clusters.dtypes == [("doc_id", "bigint"), ("cluster_id", "bigint")]
    # numeric min: a string min would pick "10" < "2"
    assert sorted(map(tuple, clusters.collect())) == [(1, 1), (2, 2),
                                                      (10, 2)]


def test_block_size_stats_are_broadcast(front):
    p = plan_of(front["pairs"])
    # the per-block size annotation join must not shuffle the members
    assert "BroadcastHashJoin" in p, p


def test_canonicalize_prunes_unused_columns(spark, transcripts_parquet):
    from edlib_spark.operators.canonicalize import canonicalize
    t = spark.read.parquet(transcripts_parquet)
    p = plan_of(canonicalize(t))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan, p
    # only conv_id, turn_idx, text should reach the scan
    assert "tool" not in scan[0] and "role" not in scan[0], scan[0]


def test_query_vs_corpus_uses_broadcast(spark):
    from edlib_spark import driver_contract as dc
    df = dc.query_vs_corpus(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "Broadcast" in p, p
    assert "CartesianProduct" not in p, p


def test_length_prefilter_precedes_kernel(front):
    """The k < |len diff| shortcut must run JVM-side BEFORE the Arrow
    boundary (pairs pruned without invoking Python)."""
    p = scored_plan(front)
    arrow_pos = p.find("ArrowEvalPython")
    # the abs(len diff) filter must appear BELOW (later in the printed
    # tree = earlier in execution than) the Arrow node
    filter_pos = p.find("abs(")
    assert arrow_pos != -1 and filter_pos != -1, p
    assert filter_pos > arrow_pos, (
        "length prefilter should execute before the Arrow boundary", p)


def test_equality_scoring_is_batched_single_arrow_boundary(spark):
    """Bulk scoring with additional equalities (the reference's
    EdlibEqualityPair headline use) must run through the batched kernel:
    exactly one ArrowEvalPython boundary, no per-row kernel.align loop
    (which would show as a second Python eval or a plain BatchEvalPython
    row-at-a-time node)."""
    from edlib_spark.driver_contract import equality_align_documents
    df = equality_align_documents(spark, "/root/testdata/sf0.001")
    p = plan_of(df, "simple")
    assert p.count("ArrowEvalPython") == 1, p
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p


def test_ann_lsh_is_bucket_equijoin_jvm_only(spark):
    """The LSH ANN scale path must be a bucket equi-join with all key
    derivation and cosine re-ranking in Catalyst: no cartesian/nested-
    loop join, and no Python evaluation anywhere in the plan."""
    from edlib_spark.driver_contract import ann_lsh_topk
    df = ann_lsh_topk(spark, "/root/testdata/sf0.001")
    p = plan_of(df, "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "EvalPython" not in p, p  # Arrow or row-at-a-time
    assert "bucket" in p, p


def test_cosine_neardup_has_no_cross_join(spark):
    """Exact embedding near-dup must not materialize the n^2 theta join:
    candidates come from the blocked-GEMM applyInPandas tasks, and the
    only joins are equi-joins (task replication + exact re-verify)."""
    from edlib_spark.driver_contract import embedding_cosine_neardup
    df = embedding_cosine_neardup(spark, "/root/testdata/sf0.001")
    p = plan_of(df, "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "FlatMapGroupsInPandas" in p, p


def test_hw_shw_scoring_keeps_infix_and_prefix_matches(spark):
    """The JVM length prune must be mode-correct: the reference's
    k < |tLen-qLen| shortcut is scoped to NW (edlib.cpp:744-747, inside
    myersCalcEditDistanceNW).  In HW/SHW the target end (and start, for
    HW) is free, so a short query inside / at the head of a much longer
    target is a 0-distance match and must survive the prune; only
    len_a - len_b > k is safely prunable (query longer than target)."""
    from edlib_spark.operators.scoring import score_pairs

    needle = "the quick brown fox"
    hay = "padpadpad " * 30 + needle + " tailtail " * 30
    prefix_hay = needle + " trailer " * 60
    canon = spark.createDataFrame(
        [("q", needle, len(needle)),
         ("h", hay, len(hay)),
         ("p", prefix_hay, len(prefix_hay)),
         ("long_q", "z" * 400, 400),
         ("short_t", "z" * 10, 10)],
        "conv_id string, full_text string, text_len int")
    pairs = spark.createDataFrame(
        [("q", "h"), ("q", "p"), ("long_q", "short_t")],
        "id_a string, id_b string")

    hw = {(r.id_a, r.id_b): r.edit_distance
          for r in score_pairs(pairs, canon, tau=0.2, mode="HW").collect()}
    assert hw[("q", "h")] == 0, hw       # infix match survives the prune
    assert hw[("q", "p")] == 0, hw
    # query 390 chars longer than the target: provably > k, pruned
    assert ("long_q", "short_t") not in hw, hw

    shw = {(r.id_a, r.id_b): r.edit_distance
           for r in score_pairs(pairs, canon, tau=0.2,
                                mode="SHW").collect()}
    assert shw[("q", "p")] == 0, shw     # prefix match survives
    assert ("long_q", "short_t") not in shw, shw

    # NW keeps the reference's two-sided prune: both mismatched-length
    # pairs are pruned JVM-side
    nw = {(r.id_a, r.id_b) for r in
          score_pairs(pairs, canon, tau=0.2, mode="NW").collect()}
    assert nw == set(), nw


def test_assign_cells_is_row_local_no_shuffle(spark):
    """IVF cell assignment must never join, window, or shuffle the
    corpus: the k centroids ride as literals and each row picks its
    top-nprobe cells with an in-row comparator sort — the plan is
    Scan -> Project -> Generate with zero Exchange (the pre-r5
    crossJoin + row_number window shuffled n*k vector-carrying rows,
    the shape that breaks at 10^9 vectors)."""
    from edlib_spark.operators.ann import assign_cells
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    cents = base.limit(4).select(F.col("vec_id").alias("cent_id"),
                                 F.col("v").alias("c"))
    p = plan_of(assign_cells(base, cents, nprobe=2), "simple")
    assert "Exchange" not in p, p
    assert "Window" not in p, p
    assert "Join" not in p, p
    assert "EvalPython" not in p, p
