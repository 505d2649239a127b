"""Blocking strategies: geometric length bands, MinHash LSH, and
sorted-neighborhood (SNM).

Everything here is JVM-side Catalyst expressions (higher-order array
functions + xxhash64); no Python executes per row (snm_ranks adds one
bounded driver collect of #partitions count rows).

Length bands: for the NW threshold ``dist <= tau * max(len_a, len_b)``
any match satisfies len ratio >= 1 - tau, so geometric bands with ratio
1/(1-tau) guarantee matching pairs land in the same or adjacent bands;
each record emits its band and band+1 so adjacent-band pairs meet on an
equi-join key (pairs are deduped downstream).  This is the reference's
k < |tlen-qlen| shortcut (edlib/src/edlib.cpp:744-747) lifted into a
join key.

MinHash LSH: char n-gram -> xxhash64 -> H affine permutations
(min per permutation) -> bands of r rows hashed into one bucket key.
Recall/precision tuned by (H, bands); near-duplicate conversations
collide on at least one band with high probability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: modulus for the affine minhash permutations
# (31-bit operands keep a*h within int64 under ANSI arithmetic).
_P = (1 << 31) - 1


def length_band(text_len: Column, tau: float) -> Column:
    """Geometric length-band index such that any pair with
    |len_a - len_b| <= tau * max(len_a, len_b) differs by at most one
    band."""
    ratio = 1.0 / (1.0 - tau)
    return F.floor(F.log(F.greatest(text_len, F.lit(1)).cast("double"))
                   / F.lit(float(__import__("math").log(ratio))))


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Array of character n-grams (JVM-side, via sequence+substr)."""
    length = F.length(text)
    idx = F.sequence(F.lit(1), F.greatest(length - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: text.substr(i, F.lit(n)))


def _minhash_coeffs(num_hashes: int, seed: int):
    import random
    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P), rnd.randrange(0, _P))
            for _ in range(num_hashes)]


def minhash_from_base(base_hashes: Column, num_hashes: int = 16,
                      seed: int = 42) -> Column:
    """Array of ``num_hashes`` minhash values from pre-hashed grams:
    affine permutations (a_i * h + b_i) mod p via ``transform`` +
    ``array_min``."""
    return F.array(*[
        F.array_min(F.transform(
            base_hashes, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_P)))
        for a, b in _minhash_coeffs(num_hashes, seed)
    ])


def base_gram_hashes(text: Column, ngram: int = 5) -> Column:
    """One xxhash64 (mod p) per char n-gram.  Materialize this ONCE as
    its own projection before fanning out into the permutations —
    Catalyst does not CSE the shared subexpression across the
    ``num_hashes`` array transforms, so inlining it re-hashes every
    gram num_hashes times (measured ~10x slowdown at H=16)."""
    grams = char_ngrams(text, ngram)
    return F.transform(grams, lambda g: F.pmod(F.xxhash64(g), F.lit(_P)))


def minhash_blocks(canon: DataFrame, num_hashes: int = 16, bands: int = 4,
                   ngram: int = 5, seed: int = 42) -> DataFrame:
    """(conv_id, block_key) rows: one LSH bucket key per band.

    The band key is the EXACT r-tuple of minhash values rendered as a
    string ("mh{i}:v1,v2,..."), not a re-hash of the tuple: identical
    blocking semantics (docs collide iff the band rows agree), zero
    hash-collision false merges, and the key stays derivable by an
    independent SQL engine given the gram hashes (driver_contract
    shares them for the oracle).  ~48-byte keys vs 24 for a re-hash —
    immaterial against the text payloads the downstream join moves."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    # two projections: gram hashes computed once, then permutations
    with_base = canon.select(
        "conv_id", base_gram_hashes(F.col("full_text"), ngram).alias("bh"))
    with_sig = with_base.select(
        "conv_id",
        minhash_from_base(F.col("bh"), num_hashes, seed).alias("sig"))
    keys = F.array(*[
        F.concat(F.lit(f"mh{i}:"),
                 F.array_join(F.transform(
                     F.slice(F.col("sig"), i * rows + 1, rows),
                     lambda v: v.cast("string")), ","))
        for i in range(bands)
    ])
    return (with_sig
            .select("conv_id", F.explode(keys).alias("block_key")))


def snm_ranks(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Global 1-based rank over ``(key_col, id_col)`` WITHOUT a
    single-partition window.

    The classic formulation (``row_number() OVER (ORDER BY key)``) is a
    correctness trap at scale: Spark executes an un-partitioned window
    by funnelling every row through ONE task.  Instead:

    1. range-repartition on ``(key, id)`` (ordered, boundary-balanced
       partitions; the composite key lets a hot key split by id),
    2. pin the partitioning with a lazy ``localCheckpoint`` — the
       per-partition counts job and the downstream window MUST see the
       same range boundaries, and Spark re-samples RangePartitioner
       bounds per action otherwise,
    3. per-partition local ``row_number`` plus a literal-map offset by
       partition id (one bounded ``collect`` of #partitions rows, the
       same pattern as plans/catalog lineage).

    Rank values are independent of where the range boundaries fall, so
    the output is deterministic even though the sampled boundaries are
    not.  ``key_col`` must be non-null: Spark sorts nulls first,
    DuckDB's default is nulls last, so a nullable key would diverge
    from any SQL re-derivation (coalesce upstream).
    """
    part_df = (df.select(id_col, key_col)
               .repartitionByRange(key_col, id_col)
               .withColumn("_part", F.spark_partition_id())
               .localCheckpoint(eager=False))
    counts = sorted((r["_part"], r["cnt"]) for r in
                    part_df.groupBy("_part")
                    .agg(F.count(F.lit(1)).alias("cnt")).collect())
    if not counts:
        return df.select(id_col, key_col,
                         F.lit(0).cast("bigint").alias("rank")).limit(0)
    offsets, running = {}, 0
    for part, cnt in counts:
        offsets[part] = running
        running += cnt
    # offsets as bigint literals: a 32-bit map value would overflow at
    # ~2B rows, exactly the scale this rank formulation exists for
    offset_map = F.create_map(
        *[c for part in offsets
          for c in (F.lit(part), F.lit(offsets[part]).cast("bigint"))])
    local = F.row_number().over(
        Window.partitionBy("_part").orderBy(key_col, id_col))
    return part_df.select(
        id_col, key_col,
        (F.element_at(offset_map, F.col("_part"))
         + local.cast("bigint")).alias("rank"))


def sorted_neighborhood_pairs(df: DataFrame, key_col: str, id_col: str,
                              window: int = 8) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): sort by
    a domain key, slide a window of ``window`` records, emit every pair
    that co-occurs in some window — i.e. all pairs with rank gap in
    ``[1, window-1]``.

    The pair stage is an equi-join on ``floor((rank-1) / W)`` with each
    left row exploded to (block, block+1): any pair with gap <= W spans
    at most adjacent blocks, blocks have exactly W members by
    construction (no skew possible, unlike key-equality blocking), and
    output is O(n * W) — the property that makes SNM attractive at
    100 TB.  Returns (id_a, id_b, rank_gap) ordered by rank (id_a is
    the lower-ranked record, not necessarily the lower id).
    """
    if window < 2:
        ranked = snm_ranks(df, key_col, id_col)
        return ranked.select(
            F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
            F.col("rank").alias("rank_gap")).limit(0)
    gap = window - 1
    ranked = snm_ranks(df, key_col, id_col)
    blk = F.floor((F.col("rank") - 1) / gap)
    left = ranked.select(
        F.col(id_col).alias("id_a"), F.col("rank").alias("rank_a"),
        F.explode(F.array(blk, blk + 1)).alias("_blk"))
    right = ranked.select(
        F.col(id_col).alias("id_b"), F.col("rank").alias("rank_b"),
        blk.alias("_blk"))
    return (left.join(right, "_blk")
            .where((F.col("rank_b") > F.col("rank_a"))
                   & (F.col("rank_b") <= F.col("rank_a") + gap))
            .select("id_a", "id_b",
                    (F.col("rank_b") - F.col("rank_a"))
                    .cast("bigint").alias("rank_gap")))


def weighted_node_prune(edges: DataFrame,
                        weight_col: str = "weight",
                        emit_all: bool = False) -> DataFrame:
    """Meta-blocking WEIGHTED NODE PRUNING (Papadakis et al.,
    "Meta-Blocking: Taking Entity Resolution to the Next Level",
    TKDE 2014): treat the blocking output as a graph whose edge weight
    is the co-occurrence evidence (how many blocks / blocking rules
    proposed the pair), compute each node's mean incident weight, and
    keep an edge iff its weight reaches the mean of AT LEAST ONE
    endpoint — the redundancy-positive WNP variant, the block-cleaning
    step production ER runs between blocking and the pairwise scorer.

    Why it matters at 100 TB: multi-pass blocking keeps recall by
    OR-ing rules, which drags in a long tail of pairs proposed by a
    single weak rule; WNP drops that tail with integer arithmetic
    BEFORE the expensive scorer touches it, per-node-adaptively rather
    than via a global weight cutoff (a uniform ``weight >= 2`` would
    blind every rule's exclusive coverage at once — exactly what
    multi-pass blocking exists to avoid).

    Purely integer math: ``w >= sum_w / deg`` is evaluated as
    ``w * deg >= sum_w`` in bigint cross-multiplication — no doubles,
    so an independent SQL engine re-derives every kept edge exactly.
    Each node retains at least its maximum-weight edge (w_max is >=
    the mean by definition), so no record is ever isolated by pruning.

    Scale shape: one map-side-combined groupBy over the 2|E| skinny
    (node, weight) rows for the per-node stats, then two equi-joins of
    the O(n)-row stats table back to the edge list — broadcastable
    while the node table fits, AQE shuffle joins beyond; nothing
    quadratic, no windows, no driver state.

    Returns (id_a, id_b, weight, retained_by) where retained_by is
    the endpoint bitmask (1 = a's threshold passed, 2 = b's,
    3 = both); only surviving edges are emitted unless ``emit_all``,
    which keeps dropped edges too (retained_by = 0) so a quality
    audit can compare kept vs dropped against ground truth.
    """
    e = edges.select(F.col("id_a"), F.col("id_b"),
                     F.col(weight_col).cast("bigint").alias("weight"))
    incid = (e.select(F.col("id_a").alias("node"), "weight")
             .unionByName(e.select(F.col("id_b").alias("node"), "weight")))
    stats = (incid.groupBy("node")
             .agg(F.count(F.lit(1)).alias("deg"),
                  F.sum("weight").alias("sw")))
    sa = stats.select(F.col("node").alias("_na"),
                      F.col("deg").alias("_deg_a"),
                      F.col("sw").alias("_sw_a"))
    sb = stats.select(F.col("node").alias("_nb"),
                      F.col("deg").alias("_deg_b"),
                      F.col("sw").alias("_sw_b"))
    keep_a = F.col("weight") * F.col("_deg_a") >= F.col("_sw_a")
    keep_b = F.col("weight") * F.col("_deg_b") >= F.col("_sw_b")
    flagged = (e.join(sa, F.col("id_a") == F.col("_na"))
               .join(sb, F.col("id_b") == F.col("_nb")))
    if not emit_all:
        flagged = flagged.where(keep_a | keep_b)
    return flagged.select(
        "id_a", "id_b", "weight",
        (F.when(keep_a, F.lit(1)).otherwise(F.lit(0))
         + F.when(keep_b, F.lit(2)).otherwise(F.lit(0)))
        .cast("bigint").alias("retained_by"))


def weighted_edge_prune(edges: DataFrame,
                        weight_col: str = "weight") -> DataFrame:
    """Meta-blocking WEIGHTED EDGE PRUNING (Papadakis et al., TKDE
    2014) — the GLOBAL-threshold sibling of :func:`weighted_node_prune`:
    keep an edge iff its weight reaches the mean weight of the whole
    blocking graph.  WEP cuts deeper than WNP (no per-node adaptivity,
    so a node whose every edge is weak can be isolated) but is the
    cheaper rule — one 2-scalar global aggregate instead of a per-node
    stats join — and the paper's baseline every WNP study compares
    against, so the engine grades both.

    Purely integer math: ``w >= sum_w / n_edges`` evaluated as
    ``w * n_edges >= sum_w`` in bigint cross-multiplication.  Scale
    shape: one map-side-combined global aggregate (2 scalars) joined
    back by broadcast crossJoin — the edge stream is touched twice
    and never shuffled on a key.

    Returns surviving (id_a, id_b, weight) rows."""
    e = edges.select(F.col("id_a"), F.col("id_b"),
                     F.col(weight_col).cast("bigint").alias("weight"))
    tot = e.agg(F.count(F.lit(1)).alias("_n_e"),
                F.sum("weight").alias("_sw"))
    return (e.crossJoin(F.broadcast(tot))
            .where(F.col("weight") * F.col("_n_e") >= F.col("_sw"))
            .select("id_a", "id_b", "weight"))
