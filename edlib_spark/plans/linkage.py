"""End-to-end record-linkage plan: canonicalize → block → pair → score →
cluster, with optional stage checkpointing (resume) and an evaluation
helper (pairwise F1 vs ground-truth labels).

This is the engine's flagship dataflow (BASELINE.json north_star).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.blocking import length_band, minhash_blocks
from ..operators.canonicalize import canonicalize
from ..operators.clustering import cluster_assignments
from ..operators.pairs import candidate_pairs
from ..operators.scoring import match_edges, score_pairs
from .catalog import RunCatalog


# Width of the structural length bands.  Measured on the medium fixture
# (4954 true pairs, ~5k convs): structural blocking (n_turns, geometric
# length band) at 0.04 -> recall 1.000 at 313k candidates.
BAND_TAU = 0.04


@dataclass
class LinkageConfig:
    tau: float = 0.2                 # match threshold on normalized NW dist
    mode: str = "NW"
    # MinHash LSH (H=16, b=8) -> recall 0.796 at 868k candidates on the
    # same fixture (shared-vocab text makes ngram Jaccard of unrelated
    # docs high), so it is OFF by default for transcripts and kept as a
    # strategy for corpora where length bands are uninformative.
    use_minhash: bool = False


def build_blocks(canon: DataFrame, cfg: LinkageConfig) -> DataFrame:
    """Blocking keys: structural (n_turns + geometric length band, band
    and band+1 for adjacency), unioned with MinHash LSH buckets when
    ``cfg.use_minhash``.

    Precondition: ``canon`` has one row per ``conv_id`` (as
    ``canonicalize`` returns it).  The (conv_id, block_key) rows are
    then unique by construction, so no dedupe (and no shuffle) runs
    here: a conversation's two structural keys differ (band vs
    band + 1), each MinHash band key carries its own ``mh{i}:``
    prefix, and neither prefix collides with ``st:``.
    """
    band = length_band(F.col("text_len"), BAND_TAU)
    blocks = (canon.select(
                  "conv_id",
                  F.explode(F.array(band, band + 1)).alias("band"),
                  F.col("n_turns"))
              .select("conv_id",
                      F.concat(F.lit("st:"), F.col("n_turns"), F.lit(":"),
                               F.col("band")).alias("block_key")))
    if cfg.use_minhash:
        blocks = blocks.unionByName(minhash_blocks(canon, 16, 8, 5))
    return blocks


def run_linkage(transcripts: DataFrame, cfg: LinkageConfig | None = None,
                catalog: RunCatalog | None = None) -> dict:
    """Run the full pipeline; returns dict of stage DataFrames.

    With a ``catalog``, every stage checkpoints (parquet + manifest) and
    an interrupted run resumes from the last completed stage.
    """
    cfg = cfg or LinkageConfig()

    def _stage(name, build, reused=False):
        if catalog is not None:
            return catalog.stage(name, build)
        df = build()
        if reused:
            # without a checkpoint catalog, pin stages that downstream
            # consumers would otherwise recompute (the scorer UDF must
            # run exactly once)
            df = df.localCheckpoint(eager=False)
        return df

    canon = _stage("canonical", lambda: canonicalize(transcripts),
                   reused=True)
    # candidate_pairs scans its blocks three times (size stats, both
    # salt roles): a select over the pinned canon for structural keys,
    # but the MinHash signatures are worth computing once
    blocks = _stage("blocks", lambda: build_blocks(canon, cfg),
                    reused=cfg.use_minhash)
    pairs = _stage("candidate_pairs", lambda: candidate_pairs(blocks))
    scored = _stage("scored_pairs",
                    lambda: score_pairs(pairs, canon, cfg.tau, cfg.mode),
                    reused=True)
    # edges is a narrow filter over the pinned scored stage, and
    # connected_components pins its own input: no second pin here
    edges = _stage("edges", lambda: match_edges(scored, cfg.tau))
    clusters = _stage("clusters",
                      lambda: cluster_assignments(canon, edges))
    return {"canonical": canon, "blocks": blocks, "pairs": pairs,
            "scored": scored, "edges": edges, "clusters": clusters}


def pairwise_f1(clusters: DataFrame, truth: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of predicted clusters vs truth.

    Both inputs: (conv_id, cluster_id).  Pair counts are computed from
    cluster/label sizes and an intersection contingency — no quadratic
    pair materialization, so this evaluates at any scale.
    """
    joined = (clusters.withColumnRenamed("cluster_id", "pred")
              .join(truth.withColumnRenamed("cluster_id", "label"),
                    "conv_id"))

    def _pairs(count_col):
        return (count_col * (count_col - 1) / 2)

    pred_pairs = (joined.groupBy("pred").count()
                  .agg(F.sum(_pairs(F.col("count")))).collect()[0][0]) or 0
    true_pairs = (joined.groupBy("label").count()
                  .agg(F.sum(_pairs(F.col("count")))).collect()[0][0]) or 0
    both_pairs = (joined.groupBy("pred", "label").count()
                  .agg(F.sum(_pairs(F.col("count")))).collect()[0][0]) or 0

    precision = both_pairs / pred_pairs if pred_pairs else 1.0
    recall = both_pairs / true_pairs if true_pairs else 1.0
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    return {"precision": precision, "recall": recall, "f1": f1,
            "pred_pairs": float(pred_pairs), "true_pairs": float(true_pairs),
            "common_pairs": float(both_pairs)}


def bcubed(clusters: DataFrame, truth: DataFrame) -> dict:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) of predicted
    clusters vs truth — the record-weighted complement to
    :func:`pairwise_f1`: pairwise counting weighs a cluster
    quadratically in its size, so one giant merged cluster dominates
    the score, while B-cubed weighs every RECORD once (singleton
    handling and small-cluster purity stay visible).  Standard ER
    practice reports both.

    Both inputs: (conv_id, cluster_id).  The per-record definition
    (precision of a record = the fraction of its predicted cluster
    sharing its truth label) collapses onto the contingency cells:
    precision = sum over cells of n^2/|pred cluster| / N and recall =
    sum of n^2/|truth cluster| / N — nothing quadratic is
    materialized; two window sums + one aggregation over the cell
    table, which is at most one row per (pred, truth) overlap.
    """
    from pyspark.sql import Window
    joined = (clusters.withColumnRenamed("cluster_id", "pred")
              .join(truth.withColumnRenamed("cluster_id", "label"),
                    "conv_id"))
    cells = joined.groupBy("pred", "label").count()
    wp = Window.partitionBy("pred")
    wt = Window.partitionBy("label")
    row = (cells
           .withColumn("p_mass", F.col("count") * F.col("count")
                       / F.sum("count").over(wp))
           .withColumn("r_mass", F.col("count") * F.col("count")
                       / F.sum("count").over(wt))
           .agg(F.sum("p_mass").alias("p"), F.sum("r_mass").alias("r"),
                F.sum("count").alias("n"))
           .collect()[0])
    n = row["n"] or 0
    precision = row["p"] / n if n else 1.0
    recall = row["r"] / n if n else 1.0
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    return {"precision": precision, "recall": recall, "f1": f1,
            "n_records": float(n)}


def blocking_quality(pairs: DataFrame, truth: DataFrame) -> dict:
    """Standard blocking-evaluation metrics (Christen, "Data Matching",
    2012): reduction ratio RR = 1 - |candidates| / C(n,2) and pairs
    completeness PC = |true-match pairs among candidates| / |true-match
    pairs| — PC bounds the recall any downstream scorer can reach.

    ``pairs``: (id_a, id_b); ``truth``: (conv_id, cluster_id).  The
    true-pair total comes from cluster sizes and the intersection from
    two equi-joins of candidates against per-record labels — nothing
    quadratic is materialized, so this evaluates at any scale."""
    n = truth.count()
    total = n * (n - 1) / 2
    cand = pairs.count()
    lab = truth.select(F.col("conv_id"), F.col("cluster_id"))
    matched = (pairs
               .join(lab.select(F.col("conv_id").alias("id_a"),
                                F.col("cluster_id").alias("lab_a")), "id_a")
               .join(lab.select(F.col("conv_id").alias("id_b"),
                                F.col("cluster_id").alias("lab_b")), "id_b")
               .where(F.col("lab_a") == F.col("lab_b")).count())
    true_pairs = (truth.groupBy("cluster_id").count()
                  .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                  .collect()[0][0]) or 0
    return {"n_records": n, "candidates": cand,
            "reduction_ratio": 1.0 - cand / total if total else 1.0,
            "pairs_completeness": (matched / true_pairs
                                   if true_pairs else 1.0),
            "true_pairs": float(true_pairs),
            "true_in_candidates": matched}


def measure_linkage(spark, scale: str,
                    cfg: LinkageConfig | None = None) -> dict:
    """Run the full linkage chain on the deterministic synthetic corpus
    at ``scale`` and measure it: end-to-end wall seconds, per-stage row
    counts, and pairwise F1 vs the planted ground truth.

    The single producer of the "end-to-end pipeline" numbers — both
    bench.py's pipeline section and tools/pipeline_bench.py report
    from this dict, so the two records cannot diverge in methodology
    (the wall clock covers construction through the clusters count;
    stage counts and F1 are evaluated after, outside the timed
    region)."""
    import time

    from ..sources.transcripts import (ensure_transcripts_parquet,
                                       ground_truth_cluster)

    tpath = ensure_transcripts_parquet(spark, scale)
    transcripts = spark.read.parquet(tpath)
    n_turns = transcripts.count()
    n_convs = transcripts.select("conv_id").distinct().count()

    t0 = time.perf_counter()
    # run_linkage executes the chain during construction: the CC loop's
    # fixpoint iterations force canonical -> ... -> edges eagerly
    stages = run_linkage(transcripts, cfg or LinkageConfig())
    clusters = stages["clusters"]
    clusters.count()
    wall = time.perf_counter() - t0

    counts = {name: stages[name].count()
              for name in ("canonical", "blocks", "pairs", "scored",
                           "edges", "clusters")}
    truth = clusters.select(
        "conv_id", ground_truth_cluster(F.col("conv_id")).alias("cluster_id"))
    metrics = pairwise_f1(clusters, truth)
    return {"scale": scale, "turns": n_turns, "convs": n_convs,
            "wall_sec": wall, "counts": counts, "metrics": metrics}
