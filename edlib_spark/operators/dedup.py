"""Near-duplicate detection over document corpora — the dedup family a
training-data pipeline needs at 100 TB:

* exact dedup          -> hash groupBy (driver_contract.doc_exact_dedup)
* MinHash + LSH        -> ``minhash_neardup_pairs``: LSH band-bucket
                          join proposes candidates, exact char-n-gram
                          Jaccard verifies (no false positives; miss
                          probability (1-j^r)^b, ~2e-4 at j=0.9 with
                          8 bands x 4 rows)
* SimHash              -> ``simhash_neardup_pairs``: band-key join +
                          Hamming-distance verify (F.bit_count, JVM)
* embedding cosine     -> ``cosine_neardup_pairs``: exact threshold
                          join (brute force at test scale; the LSH
                          bucket variant in textops.embedding_lsh_key
                          is the 100 TB candidate-gen path)

All candidate generation is equi-join on block keys (shuffle on the
bucket key, salted upstream via operators.pairs.candidate_pairs), and
all verification math is JVM-side Catalyst expressions — no Python in
any of these paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .blocking import char_ngrams, minhash_blocks
from .pairs import candidate_pairs
from .textops import simhash, simhash_band_keys


def char_ngram_set(text: Column, n: int = 5) -> Column:
    """Distinct, sorted character n-grams (JVM-side)."""
    return F.array_sort(F.array_distinct(char_ngrams(text, n)))


def minhash_neardup_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", num_hashes: int = 32,
                          bands: int = 8, ngram: int = 5,
                          tau_pct: int = 80,
                          hot_block_threshold: int = 256,
                          salt_group_size: int = 128) -> DataFrame:
    """(id_a, id_b, inter_count, union_count) for pairs whose exact
    char-``ngram`` Jaccard >= tau_pct/100, candidates proposed by
    MinHash LSH (``bands`` bands of num_hashes/bands rows).

    Integer inter/union counts (not a float Jaccard) keep the result
    exactly comparable across engines.

    ``hot_block_threshold`` / ``salt_group_size`` forward to
    operators.pairs.candidate_pairs: boilerplate-heavy web corpora
    produce LSH buckets with millions of members (one shared template
    -> one band key), and triangular salting is what keeps that
    bucket's quadratic fan-out bounded per task.  Output is invariant
    to the salting (tests/test_dedup.py pins this on a planted hot
    block)."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    # a small input may arrive as one parquet split; the per-doc gram
    # hashing is the expensive part, so spread it before computing.
    # Pinned twice: the documents, so the blocker and the gram join
    # read one shuffle (the join's inferred not-null filter would
    # otherwise make Spark shuffle them again), and the blocks, which
    # candidate_pairs scans three times (signatures computed once;
    # BENCH/LINK_PASS.md)
    docs = (docs.select(F.col(id_col).cast("bigint").alias("conv_id"),
                        F.col(text_col).alias("full_text"))
            .repartition(par, "conv_id").localCheckpoint(eager=False))
    blocks = minhash_blocks(docs, num_hashes=num_hashes, bands=bands,
                            ngram=ngram).localCheckpoint(eager=False)
    pairs = candidate_pairs(blocks, hot_block_threshold=hot_block_threshold,
                            salt_group_size=salt_group_size)

    grams = docs.select("conv_id",
                        char_ngram_set(F.col("full_text"), ngram).alias("g"))
    a = grams.select(F.col("conv_id").alias("id_a"), F.col("g").alias("ga"))
    b = grams.select(F.col("conv_id").alias("id_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    inter.cast("bigint").alias("inter_count"),
                    union.cast("bigint").alias("union_count"))
            .where(F.col("inter_count") * 100
                   >= F.lit(tau_pct) * F.col("union_count")))


def simhash_neardup_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", bands: int = 4,
                          max_hamming: int = 3) -> DataFrame:
    """(id_a, id_b, hamming) for pairs within ``max_hamming`` bits on
    the 64-bit token SimHash; candidates share at least one of ``bands``
    band keys (guaranteed complete for hamming <= bands-1)."""
    sh = docs.select(F.col(id_col).cast("bigint").alias("doc_id"),
                     simhash(F.col(text_col)).alias("sh"))
    keyed = sh.select("doc_id", "sh",
                      F.explode(simhash_band_keys(F.col("sh"), bands))
                       .alias("band_key"))
    a = keyed.select(F.col("band_key"), F.col("doc_id").alias("id_a"),
                     F.col("sh").alias("sh_a"))
    b = keyed.select(F.col("band_key"), F.col("doc_id").alias("id_b"),
                     F.col("sh").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (a.join(b, "band_key")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", hamming.cast("bigint").alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"]))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns in double
    precision, entirely in Catalyst higher-order functions."""
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_neardup_pairs(emb: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.45,
                         n_blocks: int = 8) -> DataFrame:
    """(id_a, id_b, cos_r) for embedding pairs with cosine >=
    ``threshold`` (rounded to 4 dp for stable cross-engine hashing).
    EXACT (no candidate can be missed), with no Catalyst cross join.

    Scale design — blocked GEMM, not LSH.  At a weak threshold like
    0.45 the sign-LSH bit-agreement probability is only
    1 - acos(0.45)/pi ~ 0.65, so no (rows, bands) choice gives both
    candidate reduction and near-1 recall: exact low-threshold cosine
    is inherently all-pairs work.  The scale-safe *shape* for that work
    is the standard distributed brute-force similarity plan:

      1. hash each vector into one of ``n_blocks`` blocks;
      2. broadcast the B(B+1)/2 block-pair task list and replicate each
         vector to the tasks it participates in (shuffle volume n*B
         rows — NOT the n^2 rows a theta join materializes);
      3. per task, one vectorized numpy GEMM over the two blocks inside
         applyInPandas emits only pairs above ``threshold`` minus a
         float-error margin;
      4. the few surviving candidates are re-verified JVM-side with the
         same Catalyst ``cosine`` expression, so emitted values are
         bit-identical to a pure-Catalyst evaluation.

    At 100 TB, ``n_blocks`` scales so one block pair fits executor
    memory (rows_per_block * dim * 8 bytes ~ a few hundred MB); tasks
    grow as B^2 and parallelize freely.  For HIGH thresholds (>= ~0.9,
    the usual near-dup regime) prefer the sub-quadratic LSH bucket path
    (textops.embedding_lsh_key, see driver_contract.ann_lsh_topk).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (LongType, DoubleType, StructField,
                                   StructType)

    spark = emb.sparkSession
    base = emb.select(F.col(id_col).cast("bigint").alias("vid"),
                      F.col(vec_col).alias("v"),
                      F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
                      .cast("int").alias("blk"))

    tasks = spark.createDataFrame(
        [(bi, bj) for bi in range(n_blocks)
         for bj in range(bi, n_blocks)], "bi int, bj int")
    # side 0 = rows block, side 1 = cols block of the task's GEMM
    part_a = (base.join(F.broadcast(tasks), F.col("blk") == F.col("bi"))
              .select("bi", "bj", "vid", "v", F.lit(0).alias("side")))
    part_b = (base.join(F.broadcast(tasks),
                        (F.col("blk") == F.col("bj"))
                        & (F.col("bi") != F.col("bj")))
              .select("bi", "bj", "vid", "v", F.lit(1).alias("side")))
    replicated = part_a.unionByName(part_b)

    margin = 1e-6  # covers GEMM-vs-fold float divergence; candidates
    # are re-verified exactly below, so the margin only adds candidates

    cand_schema = StructType([
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("cos_approx", DoubleType()),
    ])

    empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                          "id_b": pd.Series(dtype="int64"),
                          "cos_approx": pd.Series(dtype="float64")})

    def gemm(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        rows = pdf[pdf["side"] == 0]
        if not len(rows):  # block bi hashed no vectors
            return empty
        va = np.stack(rows["v"].to_numpy()).astype(np.float64)
        ia = rows["vid"].to_numpy()
        va /= np.maximum(np.linalg.norm(va, axis=1, keepdims=True), 1e-300)
        if bi == bj:
            cos = va @ va.T
            ii, jj = np.nonzero(np.triu(cos >= threshold - margin, k=1))
            ib = ia
        else:
            cols = pdf[pdf["side"] == 1]
            if not len(cols):  # block bj hashed no vectors
                return empty
            vb = np.stack(cols["v"].to_numpy()).astype(np.float64)
            ib = cols["vid"].to_numpy()
            vb /= np.maximum(np.linalg.norm(vb, axis=1, keepdims=True),
                             1e-300)
            cos = va @ vb.T
            ii, jj = np.nonzero(cos >= threshold - margin)
        lo = np.minimum(ia[ii], ib[jj])
        hi = np.maximum(ia[ii], ib[jj])
        # duplicate vec_ids in the input would otherwise emit a
        # self-pair here (lo == hi), which the id_a < id_b theta-join
        # formulation could never produce — drop them for parity
        keep = lo != hi
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep],
                             "cos_approx": cos[ii, jj][keep]})

    cands = replicated.groupBy("bi", "bj").applyInPandas(gemm, cand_schema)

    # exact re-verify with the SAME Catalyst expression an all-pairs
    # formulation would use — emitted values are engine-exact
    a = base.select(F.col("vid").alias("id_a"), F.col("v").alias("va"))
    b = base.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    cos = cosine(F.col("va"), F.col("vb"))
    return (cands.select("id_a", "id_b")
            .join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", cos.alias("cos"))
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 4).alias("cos_r")))
