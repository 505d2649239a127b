"""Spark-level tests for UDFs and core operators."""

import pytest
from pyspark.sql import functions as F

from edlib_spark.functions import align_expr, edit_distance, norm_distance
from edlib_spark.operators import canonicalize, TURN_SEP
from edlib_spark.operators.blocking import (
    char_ngrams, length_band_blocks, minhash_blocks,
)
from edlib_spark.operators.pairs import candidate_pairs
from edlib_spark.oracle import simple_edit_distance


def test_edit_distance_udf(spark):
    rows = [("telephone", "elephant"), ("abc", "abc"), ("", "xyz"),
            ("kitten", "sitting")]
    df = spark.createDataFrame(rows, ["q", "t"])
    got = {(r["q"], r["t"]): r["d"] for r in
           df.withColumn("d", edit_distance(F.col("q"), F.col("t"),
                                            "NW", -1)).collect()}
    assert got[("telephone", "elephant")] == 3
    assert got[("abc", "abc")] == 0
    assert got[("", "xyz")] == 3
    assert got[("kitten", "sitting")] == 3


def test_edit_distance_udf_column_k(spark):
    rows = [("telephone", "elephant", 2), ("telephone", "elephant", 3)]
    df = spark.createDataFrame(rows, ["q", "t", "k"])
    got = [r["d"] for r in
           df.withColumn("d", edit_distance(F.col("q"), F.col("t"), "NW",
                                            F.col("k")))
           .orderBy("k").collect()]
    assert got == [-1, 3]


def test_edit_distance_matches_spark_builtin(spark):
    """Cross-check against Spark's built-in levenshtein (independent
    oracle, unbanded NW)."""
    import numpy as np
    rng = np.random.default_rng(5)
    letters = "abcdef"
    rows = []
    for _ in range(80):
        q = "".join(letters[i] for i in rng.integers(0, 6,
                                                     rng.integers(0, 60)))
        t = "".join(letters[i] for i in rng.integers(0, 6,
                                                     rng.integers(0, 60)))
        rows.append((q, t))
    df = spark.createDataFrame(rows, ["q", "t"])
    bad = (df.withColumn("ours", edit_distance(F.col("q"), F.col("t")))
           .withColumn("ref", F.levenshtein("q", "t"))
           .where(F.col("ours") != F.col("ref")).count())
    assert bad == 0


def test_align_expr_struct(spark):
    df = spark.createDataFrame([("telephone", "elephant")], ["q", "t"])
    r = df.select(align_expr(F.col("q"), F.col("t"), mode="NW",
                             task="path").alias("r")).collect()[0]["r"]
    assert r["editDistance"] == 3
    assert r["cigar"] is not None
    assert r["locations"][0]["end"] == 7


def test_norm_distance(spark):
    df = spark.createDataFrame([(3, 10, 6), (-1, 10, 6)],
                               ["d", "la", "lb"])
    got = [r["n"] for r in df.select(
        norm_distance(F.col("d"), F.col("la"), F.col("lb")).alias("n"))
        .collect()]
    assert got[0] == pytest.approx(0.3)
    assert got[1] is None


def test_canonicalize_turn_order_invariant(spark):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering:
    shuffled input rows must canonicalize to the turn-ordered string."""
    import datetime as dt
    rows = [
        ("c1", 2, "user", "third", None, dt.datetime(2024, 1, 1)),
        ("c1", 0, "user", "first", None, dt.datetime(2024, 1, 1)),
        ("c1", 1, "assistant", "second", None, dt.datetime(2024, 1, 1)),
        ("c2", 0, "user", "only", None, dt.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    got = {r["conv_id"]: r for r in canonicalize(df).collect()}
    assert got["c1"]["full_text"] == TURN_SEP.join(["first", "second",
                                                    "third"])
    assert got["c1"]["n_turns"] == 3
    assert got["c2"]["full_text"] == "only"
    # round-trip: splitting recovers the per-turn texts exactly
    assert got["c1"]["full_text"].split(TURN_SEP) == ["first", "second",
                                                      "third"]


def test_char_ngrams(spark):
    df = spark.createDataFrame([("abcdef",)], ["t"])
    grams = df.select(char_ngrams(F.col("t"), 3).alias("g")) \
        .collect()[0]["g"]
    assert grams == ["abc", "bcd", "cde", "def"]


def test_length_band_blocks_adjacency(spark):
    """Pairs within the tau length ratio share at least one band key."""
    df = spark.createDataFrame(
        [("a", "x" * 100), ("b", "x" * 119)], ["conv_id", "full_text"]) \
        .withColumn("text_len", F.length("full_text")) \
        .withColumn("n_turns", F.lit(1))
    blocks = length_band_blocks(df, tau=0.2)
    a_keys = {r["block_key"] for r in
              blocks.where(F.col("conv_id") == "a").collect()}
    b_keys = {r["block_key"] for r in
              blocks.where(F.col("conv_id") == "b").collect()}
    assert a_keys & b_keys


def test_minhash_blocks_near_duplicates_collide(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep dark forest tonight") * 3
    near = base.replace("quick", "qvick", 1)
    far = "completely different content with other words entirely " * 5
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far)],
        ["conv_id", "full_text"])
    blocks = minhash_blocks(df, num_hashes=16, bands=8)
    keys = {cid: {r["block_key"] for r in rows} for cid, rows in
            ((c, blocks.where(F.col("conv_id") == c).collect())
             for c in "abc")}
    assert keys["a"] & keys["b"], "near duplicates must share a bucket"
    assert not (keys["a"] & keys["c"]), "unrelated text must not collide"


def test_candidate_pairs_dedup_and_order(spark):
    blocks = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k1", "c"),
         ("k2", "a"), ("k2", "b")],
        ["block_key", "conv_id"])
    got = {(r["id_a"], r["id_b"]) for r in candidate_pairs(blocks).collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


def test_candidate_pairs_salted_hot_block(spark):
    """A hot block above the salt threshold still yields the exact
    triangular pair set, each pair exactly once."""
    n = 40
    rows = [("hot", f"v{i:03d}") for i in range(n)]
    blocks = spark.createDataFrame(rows, ["block_key", "conv_id"])
    pairs = candidate_pairs(blocks, hot_block_threshold=10,
                            salt_group_size=8)
    got = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert len(got) == len(set(got)) == n * (n - 1) // 2
    assert all(a < b for a, b in got)


def test_top_n_best_matches_unbounded_scan(spark):
    """Adaptive-k two-pass top-N (reference aligner.cpp:181-195) must be
    EXACT: same rows as an unbounded scan + orderBy + limit, on both the
    sampled two-pass path and the small-input fallback."""
    import numpy as np
    from pyspark.sql import functions as F
    from edlib_spark.operators.scoring import top_n_best

    rng = np.random.default_rng(5)
    letters = "abcdefgh"
    rows = []
    base = "".join(letters[i] for i in rng.integers(0, 8, 400))
    for i in range(400):
        if i % 7 == 0:  # near-dups: a few edits
            tb = base[:i % 97] + "zz" + base[i % 97 + 1:]
        else:
            tb = "".join(letters[j] for j in rng.integers(0, 8, 380))
        rows.append((i, i + 1000, base, tb))
    pairs = spark.createDataFrame(
        rows, "id_a long, id_b long, text_a string, text_b string")

    from edlib_spark.functions.alignment import edit_distance
    want = (pairs.withColumn("edit_distance",
                             edit_distance(F.col("text_a"),
                                           F.col("text_b"), "NW", -1))
            .select("id_a", "id_b", "edit_distance")
            .orderBy("edit_distance", "id_a", "id_b").limit(15).collect())
    got = top_n_best(pairs, 15).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # small-input fallback (total <= sample_factor * n)
    small = pairs.limit(30)
    want_s = (small.withColumn("edit_distance",
                               edit_distance(F.col("text_a"),
                                             F.col("text_b"), "NW", -1))
              .select("id_a", "id_b", "edit_distance")
              .orderBy("edit_distance", "id_a", "id_b").limit(15)
              .collect())
    got_s = top_n_best(small, 15).collect()
    assert [tuple(r) for r in got_s] == [tuple(r) for r in want_s]


def test_top_n_best_caps_n(spark):
    """The two-pass design collects n sample distances to the driver;
    n beyond MAX_TOP_N must be rejected up front, not silently risk
    driver memory."""
    import pytest as _pytest
    from edlib_spark.operators.scoring import MAX_TOP_N, top_n_best

    pairs = spark.createDataFrame(
        [(0, 1, "a", "b")], "id_a long, id_b long, text_a string, "
                            "text_b string")
    with _pytest.raises(ValueError, match="MAX_TOP_N"):
        top_n_best(pairs, MAX_TOP_N + 1)


def test_edit_distance_nonbmp_spark_lane_handoff(spark):
    """Astral-plane text through the REAL Spark scorer surface: the C
    lane sizes its codepoint table to each batch and scores BMP and
    astral pairs alike, with no handoff to the numpy lane.
    test_batch.py pins that at the batch API (numpy scan forbidden);
    this pins it at the DataFrame level (edit_distance UDF, mixed
    BMP/astral rows sharing one Arrow batch), NW and HW, unbounded and
    tight k, against the exact kernel per pair."""
    import numpy as np

    from edlib_spark import kernel

    rng = np.random.default_rng(7)
    alpha = "acg\U0001F600\U0001F680"  # BMP letters + 2 astral symbols
    rows = []
    for i in range(60):
        if i % 4 == 0:  # pure-BMP rows share the Arrow batches
            src = "acg"  # with the astral rows
        else:
            src = alpha
        q = "".join(src[j] for j in rng.integers(
            0, len(src), rng.integers(0, 80)))
        if i % 3:
            t = list(q)
            for p in rng.integers(0, max(len(q), 1), 4):
                if q:
                    t[p] = alpha[int(rng.integers(0, len(alpha)))]
            t = "".join(t)
        else:
            t = "".join(src[j] for j in rng.integers(
                0, len(src), rng.integers(0, 100)))
        rows.append((i, q, t))
    df = spark.createDataFrame(rows, ["i", "q", "t"])
    got = {r["i"]: (r["d_nw"], r["d_hw"], r["d_nw_k"]) for r in
           df.withColumn("d_nw", edit_distance(F.col("q"), F.col("t"),
                                               "NW", -1))
             .withColumn("d_hw", edit_distance(F.col("q"), F.col("t"),
                                               "HW", -1))
             .withColumn("d_nw_k", edit_distance(F.col("q"), F.col("t"),
                                                 "NW", 5))
             .collect()}
    for i, q, t in rows:
        want = (kernel.align(q, t, mode="NW")["editDistance"],
                kernel.align(q, t, mode="HW")["editDistance"],
                kernel.align(q, t, mode="NW", k=5)["editDistance"])
        assert got[i] == want, (i, q, t)


def test_align_expr_matches_kernel_differential(spark):
    """The vectorized align_expr (batch distance first, per-pair scan
    banded at the known distance only for locations/path survivors)
    must stay row-for-row identical to kernel.align across modes,
    tasks, k values, empties, and k-truncated rows."""
    import numpy as np
    from edlib_spark import kernel
    rng = np.random.default_rng(7)
    letters = "abcd"
    rows = [("", ""), ("", "abc"), ("abc", ""), ("a", "a")]
    for _ in range(60):
        q = "".join(letters[i]
                    for i in rng.integers(0, 4, rng.integers(0, 50)))
        t = "".join(letters[i]
                    for i in rng.integers(0, 4, rng.integers(0, 70)))
        rows.append((q, t))
    df = spark.createDataFrame(rows, ["q", "t"]).coalesce(2)
    for mode in ("NW", "HW", "SHW"):
        for task in ("distance", "locations", "path"):
            for k in (-1, 5):
                got = df.select(
                    "q", "t",
                    align_expr(F.col("q"), F.col("t"), mode=mode,
                               task=task, k=k).alias("r")).collect()
                for row in got:
                    want = kernel.align(row["q"], row["t"], mode=mode,
                                        task=task, k=k, max_alphabet=None)
                    r = row["r"]
                    ctx = (mode, task, k, row["q"], row["t"])
                    assert r["editDistance"] == want["editDistance"], ctx
                    assert r["alphabetLength"] == want["alphabetLength"], ctx
                    locs = [(loc["start"], loc["end"])
                            for loc in (r["locations"] or [])]
                    assert locs == list(want["locations"]), ctx
                    assert r["cigar"] == want["cigar"], ctx


def test_align_expr_standard_cigar_spark_surface(spark):
    """STANDARD CIGAR through the Spark surface (reference CLI
    -f CIG_STD, apps/aligner/aligner.cpp:200-221): goldens pin both
    the =/X->M run merge ('1I5=1X1=1X' -> '1I8M') and an I/D-bearing
    path ('2D1=1I2=1D' -> '2D1M1I2M1D')."""
    df = spark.createDataFrame(
        [("telephone", "elephant"), ("caba", "bbcbaa")], ["q", "t"])
    got = {r["q"]: r["c"] for r in df.select(
        "q", align_expr(F.col("q"), F.col("t"), task="path",
                        cigar_format="standard").getField("cigar")
        .alias("c")).collect()}
    assert got["telephone"] == "1I8M"
    assert got["caba"] == "2D1M1I2M1D"


def test_align_expr_int_equalities_match_str(spark):
    """Int equality entries are codepoints on every lane: (97, 98) gives
    the same rows as ('a', 'b') in NW, SHW and HW, and both match
    kernel.align.  The int form once reached kernel.encode_pair as a
    bare int and was dropped there (SHW/HW: -1; NW: a CIGAR with more
    edits than its distance)."""
    from edlib_spark import kernel
    rows = [("aaaa", "xbbbbx"), ("abab", "baba"), ("cab", "cbb"),
            ("", "ab")]
    df = spark.createDataFrame(rows, ["q", "t"]).coalesce(1)
    for mode in ("NW", "SHW", "HW"):
        got = {}
        for name, eqs in (("int", [(97, 98)]), ("str", [("a", "b")])):
            res = df.select("q", "t", align_expr(
                F.col("q"), F.col("t"), mode=mode, task="path",
                additional_equalities=eqs).alias("r")).collect()
            got[name] = {(r["q"], r["t"]): r["r"].asDict(recursive=True)
                         for r in res}
        assert got["int"] == got["str"], mode
        for (q, t), r in got["str"].items():
            want = kernel.align(q, t, mode=mode, task="path",
                                additionalEqualities=[("a", "b")],
                                max_alphabet=None)
            assert r["editDistance"] == want["editDistance"], (mode, q, t)
            assert r["cigar"] == want["cigar"], (mode, q, t)
        if mode == "NW":
            assert got["int"][("aaaa", "xbbbbx")]["cigar"] == "1D4=1D"


def test_align_expr_rejects_invalid_task_and_format():
    """align_expr validates task and cigar_format eagerly, driver-side:
    the vectorized NW lane would otherwise treat a typo'd task as
    'path' for non-empty rows while empty/HW/SHW rows raise inside the
    UDF — data-dependent failure instead of a loud immediate one."""
    import pytest
    with pytest.raises(ValueError, match="invalid task"):
        align_expr(None, None, task="location")
    with pytest.raises(ValueError, match="invalid cigar_format"):
        align_expr(None, None, task="path", cigar_format="CIG_STD")
