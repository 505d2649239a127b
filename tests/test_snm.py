"""Sorted-neighborhood blocking: scale-safe global ranks (range
partition + per-partition offsets, no single-partition window) and the
O(n*window) co-window pair generator."""

import contextlib
import io
import random

from pyspark.sql import functions as F

from edlib_spark.operators.blocking import (snm_ranks,
                                            sorted_neighborhood_pairs)


def _rows(n=90, hot=30, seed=7):
    """Scrambled (rec_id, key) rows: ``hot`` records share ONE key (the
    adversarial case — equal keys must split across range partitions by
    the id tie-break) and the rest draw from a small key pool so
    every partition boundary has duplicate-key neighbours."""
    rnd = random.Random(seed)
    pool = [f"k{i:02d}" for i in range(20)]
    rows = [(i, "hotkey") for i in range(hot)]
    rows += [(i, rnd.choice(pool)) for i in range(hot, n)]
    rnd.shuffle(rows)
    return rows


def _naive_pairs(rows, window):
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    out = set()
    for i in range(len(order)):
        for j in range(i + 1, min(i + window, len(order))):
            out.add((order[i][0], order[j][0], j - i))
    return out


def _df(spark, rows):
    return (spark.createDataFrame(rows, "rec_id bigint, snm_key string")
            .repartition(7))


def test_ranks_equal_global_sort_position(spark):
    rows = _rows()
    got = {r["rec_id"]: r["rank"]
           for r in snm_ranks(_df(spark, rows), "snm_key",
                              "rec_id").collect()}
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    assert got == {rid: i + 1 for i, (rid, _) in enumerate(order)}


def test_pairs_match_naive_sliding_window(spark):
    rows = _rows()
    got = {(r["id_a"], r["id_b"], r["rank_gap"])
           for r in sorted_neighborhood_pairs(
               _df(spark, rows), "snm_key", "rec_id", window=5).collect()}
    assert got == _naive_pairs(rows, 5)
    # exactly O(n * (w-1)) pairs minus the tail triangle
    n, w = len(rows), 5
    assert len(got) == n * (w - 1) - (w - 1) * w // 2


def test_pairs_deterministic_across_runs(spark):
    rows = _rows(seed=11)
    runs = [frozenset((r["id_a"], r["id_b"], r["rank_gap"])
                      for r in sorted_neighborhood_pairs(
                          _df(spark, rows), "snm_key", "rec_id",
                          window=8).collect())
            for _ in range(2)]
    assert runs[0] == runs[1]


def test_degenerate_windows(spark):
    rows = _rows(n=10, hot=3)
    assert sorted_neighborhood_pairs(
        _df(spark, rows), "snm_key", "rec_id", window=1).count() == 0
    empty = _df(spark, rows).limit(0)
    assert snm_ranks(empty, "snm_key", "rec_id").count() == 0
    assert sorted_neighborhood_pairs(
        empty, "snm_key", "rec_id", window=4).count() == 0


def test_window_larger_than_input_is_all_pairs(spark):
    rows = _rows(n=6, hot=2, seed=3)
    got = {(r["id_a"], r["id_b"])
           for r in sorted_neighborhood_pairs(
               _df(spark, rows), "snm_key", "rec_id", window=99).collect()}
    assert len(got) == 6 * 5 // 2


def test_blocking_quality_hand_computed(spark):
    from edlib_spark.plans.linkage import blocking_quality

    truth = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 2)],
        "conv_id string, cluster_id bigint")
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "id_a string, id_b string")
    q = blocking_quality(pairs, truth)
    assert q["n_records"] == 4 and q["candidates"] == 2
    assert abs(q["reduction_ratio"] - (1 - 2 / 6)) < 1e-12
    assert q["pairs_completeness"] == 0.5  # (a,b) found, (c,d) missed
    assert q["true_pairs"] == 2.0 and q["true_in_candidates"] == 1


def test_no_single_partition_exchange(spark):
    """The scale trap this operator exists to avoid: a global
    row_number funnelling every row through one task."""
    ranked = snm_ranks(_df(spark, _rows()), "snm_key", "rec_id")
    pairs = sorted_neighborhood_pairs(
        _df(spark, _rows()), "snm_key", "rec_id", window=8)
    for df in (ranked, pairs):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "SinglePartition" not in plan, plan
        assert "Window" in plan, plan
