"""Pairwise scoring stage: join texts to candidate pairs, prune, score.

Two parts: ``attach_texts`` (repartition + the two text joins) and
``score_attached``, the one scoring core every entry point runs —
``score_pairs`` (batch), ``streaming.scorer.score_pair_stream`` and the
driver contract's scored-pair queries.

Plan shape (deliberate):
  pairs (id_a, id_b)                             -- attach_texts
    pairs.by_pair: repartition(defaultParallelism, id_a, id_b) -- the
        skinny pair shuffle is a few bytes a row, so AQE would
        otherwise coalesce it (and the scorer behind it) into a single
        task; an explicit partition count is never coalesced.  Pairs
        from ``candidate_pairs`` already carry this partitioning (its
        dedupe runs on it), so Spark plans no second exchange for
        them; pairs from anywhere else are shuffled here
    join canon (broadcast when small)            -- texts attached twice
    filter on the mode's length lower bound      -- score_attached; the
        reference's k < |tlen-qlen| shortcut (edlib.cpp:744-747) lifted
        to a Catalyst predicate (NW: |len_a-len_b| <= k; HW/SHW:
        len_a-len_b <= k, one-sided because the target end/start is
        free): pairs are pruned JVM-side before any Python runs
    edit_distance pandas UDF (batched Myers)     -- per-pair k bound;
        the native scan bands each pair on its own, so batches need no
        length sort
    norm_distance + match filter
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.alignment import edit_distance, norm_distance
from .pairs import by_pair


def _length_prune(mode: str, k):
    """Mode-correct length lower bound, lifted to a Catalyst predicate.

    NW: d >= |len_a - len_b| (the reference's k < |tLen-qLen| shortcut,
    edlib.cpp:744-747 — scoped to myersCalcEditDistanceNW there, so it
    must be scoped to NW here too).  HW/SHW: the query (text_a) is
    always fully consumed but the target has a free end (and start,
    for HW), so the only length bound is d >= len_a - len_b — a short
    query inside a much longer target can still be a 0-distance match
    and must NOT be pruned.
    """
    diff = F.col("len_a") - F.col("len_b")
    return (F.abs(diff) <= k) if mode == "NW" else (diff <= k)


def attach_texts(pairs: DataFrame, canon: DataFrame) -> DataFrame:
    """(id_a, id_b, ...) + text_a/len_a and text_b/len_b from ``canon``
    (conv_id, full_text, text_len)."""
    a = canon.select(F.col("conv_id").alias("id_a"),
                     F.col("full_text").alias("text_a"),
                     F.col("text_len").alias("len_a"))
    b = canon.select(F.col("conv_id").alias("id_b"),
                     F.col("full_text").alias("text_b"),
                     F.col("text_len").alias("len_b"))
    return by_pair(pairs).join(a, "id_a").join(b, "id_b")


def score_attached(df: DataFrame, tau: float = 0.2,
                   mode: str = "NW") -> DataFrame:
    """The one scoring core: k = ceil(tau * max_len), the mode's length
    prune, the k-bounded ``edit_distance`` UDF and ``norm_distance``
    over a frame that already carries (id_a, id_b, text_a, text_b,
    len_a, len_b).  -> (id_a, id_b, len_a, len_b, edit_distance,
    norm_distance)."""
    max_len = F.greatest("len_a", "len_b")
    k = F.ceil(F.lit(float(tau)) * max_len).cast("int")
    df = df.where(_length_prune(mode, k))

    df = df.withColumn("edit_distance",
                       edit_distance(F.col("text_a"), F.col("text_b"),
                                     mode=mode, k=k))
    df = df.withColumn(
        "norm_distance",
        norm_distance(F.col("edit_distance"), F.col("len_a"),
                      F.col("len_b")))
    return df.select("id_a", "id_b", "len_a", "len_b", "edit_distance",
                     "norm_distance")


def score_pairs(pairs: DataFrame, canon: DataFrame, tau: float = 0.2,
                mode: str = "NW") -> DataFrame:
    """(id_a, id_b, len_a, len_b, edit_distance, norm_distance)."""
    return score_attached(attach_texts(pairs, canon), tau, mode)


# top_n_best collects n sample distances to the driver; keep n small
# enough that the collect and the global top-n sort are trivially safe
MAX_TOP_N = 100_000
# top_n_best's first pass scores a hash sample of ~this many times n
# pairs (unbounded k) to find the k bound of the second pass
TOP_N_SAMPLE_FACTOR = 8


def top_n_best(pairs: DataFrame, n: int, mode: str = "NW") -> DataFrame:
    """Top-``n`` smallest edit distances over (id_a, id_b, text_a,
    text_b) pairs — the reference CLI's adaptive-k heap
    (apps/aligner/aligner.cpp:181-195) re-expressed for a distributed
    scan as two passes:

      1. an UNBOUNDED scoring pass over a deterministic hash sample of
         ~``TOP_N_SAMPLE_FACTOR * n`` pairs; the sample's n-th best distance
         is a guaranteed upper bound on the global n-th best (any
         subset's n-th order statistic dominates the global one);
      2. a k-BOUNDED scoring pass over all pairs with k = that bound —
         the kernel's band-death early exit discards non-contenders
         cheaply, playing the role of the reference's tightening k.

    Result is EXACT: identical rows to a full unbounded scan + top-n
    (deterministic (distance, id_a, id_b) tie-break).  Falls back to
    the single unbounded pass when the input is too small to sample.

    Driver-memory note: the sample pass collects exactly ``n`` scalar
    distances to the driver (``limit(n)`` before the collect), so the
    driver footprint is O(n) ints by construction — independent of the
    pair count.  ``n`` is capped at ``MAX_TOP_N`` to keep both that
    collect and the final top-n sort trivially driver-safe; a top-n
    larger than that is a different query shape (use an ordered write,
    not a driver-side heap).
    """
    if n > MAX_TOP_N:
        raise ValueError(
            f"top_n_best n={n} exceeds MAX_TOP_N={MAX_TOP_N}; the "
            "two-pass adaptive-k design collects n distances to the "
            "driver, which is only appropriate for small n")
    dist = lambda k: edit_distance(  # noqa: E731
        F.col("text_a"), F.col("text_b"), mode=mode, k=k)
    top = lambda df: (df.select("id_a", "id_b", "edit_distance")  # noqa: E731
                      .orderBy("edit_distance", "id_a", "id_b").limit(n))

    # pinned: the pairs plan is consumed up to three times (count,
    # sample pass, bounded pass) — materialize it once
    pairs = pairs.localCheckpoint(eager=False)
    total = pairs.count()
    if total <= TOP_N_SAMPLE_FACTOR * n:
        return top(pairs.withColumn("edit_distance", dist(-1)))

    frac = (TOP_N_SAMPLE_FACTOR * n) / total
    sample = pairs.where(
        F.pmod(F.xxhash64("id_a", "id_b"), F.lit(1 << 20))
        < int(frac * (1 << 20)))
    kth_rows = (sample.withColumn("edit_distance", dist(-1))
                .select("edit_distance")
                .orderBy("edit_distance").limit(n).collect())
    if len(kth_rows) < n:  # unlucky sample: fall back to one full pass
        return top(pairs.withColumn("edit_distance", dist(-1)))
    k_bound = int(kth_rows[-1]["edit_distance"])

    bounded = (pairs.withColumn("edit_distance", dist(k_bound))
               .where(F.col("edit_distance") >= 0))
    return top(bounded)


def pending_pairs(pairs: DataFrame, done: DataFrame) -> DataFrame:
    """Pair-level resume delta: candidate pairs not yet scored.

    ``done``: any DataFrame carrying (id_a, id_b) of already-scored
    pairs (e.g. the scored_pairs checkpoint of an interrupted run).
    A left-anti join — the shuffle hashes only the id columns, so the
    delta costs nothing text-wise; downstream scoring then runs on the
    remainder and the union of old + new scored pairs is complete.
    """
    return pairs.join(done.select("id_a", "id_b"), ["id_a", "id_b"],
                      "left_anti")


def match_edges(scored: DataFrame, tau: float = 0.2) -> DataFrame:
    """(id_a, id_b) edges whose normalized distance is within threshold.

    The scorer already enforced dist <= k = ceil(tau*max_len) via the
    kernel's k bound (dist == -1 otherwise), so this is a residual
    filter on the exact normalized value.
    """
    return (scored
            .where((F.col("edit_distance") >= 0)
                   & (F.col("norm_distance") <= F.lit(float(tau))))
            .select("id_a", "id_b"))
