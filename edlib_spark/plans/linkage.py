"""End-to-end record-linkage plan: canonicalize → block → pair → score →
cluster, with optional stage checkpointing (resume), and the one
DataFrame builder per evaluation metric (pairwise F1, B-cubed, blocking
quality against ground-truth labels): the graded driver-contract
queries return the builders' rows, and the dict helpers read them.

This is the engine's flagship dataflow (BASELINE.json north_star).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
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


def _stage(catalog, name, build, pin=False):
    """Checkpoint stage ``name`` through ``catalog`` (resumed when
    complete), or else build it and, with ``pin``, lazily
    localCheckpoint it: its consumers would otherwise recompute it."""
    if catalog is not None:
        return catalog.stage(name, build)
    df = build()
    return df.localCheckpoint(eager=False) if pin else df


def link_pairs(transcripts: DataFrame, cfg: LinkageConfig | None = None,
               catalog: RunCatalog | None = None) -> dict:
    """The pipeline's front, canonical -> blocks -> candidate pairs, as
    {"canonical", "blocks", "pairs"}; it builds no scorer and no CC.
    Without a ``catalog``, the lazy pin of canonical (and of blocks
    when ``use_minhash``) runs its exchange's map stage here."""
    cfg = cfg or LinkageConfig()
    canon = _stage(catalog, "canonical", lambda: canonicalize(transcripts),
                   pin=True)
    # candidate_pairs scans its blocks three times (size stats, both
    # salt roles): a select over the pinned canon for structural keys,
    # but the MinHash signatures are worth computing once
    blocks = _stage(catalog, "blocks", lambda: build_blocks(canon, cfg),
                    pin=cfg.use_minhash)
    pairs = _stage(catalog, "candidate_pairs",
                   lambda: candidate_pairs(blocks))
    return {"canonical": canon, "blocks": blocks, "pairs": pairs}


def run_linkage(transcripts: DataFrame, cfg: LinkageConfig | None = None,
                catalog: RunCatalog | None = None) -> dict:
    """:func:`link_pairs`, then scored_pairs -> edges -> clusters;
    returns dict of stage DataFrames.  With a ``catalog``, every stage
    checkpoints (parquet + manifest) and an interrupted run resumes
    from the last completed stage.  Without one, Spark jobs run while
    the dict is built: each lazy pin's map stage (canonical, scored),
    then CC's edge fingerprints and, for a small edge set, its driver
    collect, which run canonical -> edges in full.
    """
    cfg = cfg or LinkageConfig()
    front = link_pairs(transcripts, cfg, catalog)
    canon = front["canonical"]
    # pinned: the scorer UDF must run exactly once
    scored = _stage(catalog, "scored_pairs", lambda: score_pairs(
        front["pairs"], canon, cfg.tau, cfg.mode), pin=True)
    # edges is a narrow filter over the pinned scored stage, and
    # connected_components pins its own input: no second pin here
    edges = _stage(catalog, "edges", lambda: match_edges(scored, cfg.tau))
    clusters = _stage(catalog, "clusters",
                      lambda: cluster_assignments(canon, edges))
    return {**front, "scored": scored, "edges": edges, "clusters": clusters}


def contingency(assign: DataFrame) -> DataFrame:
    """(cluster_id, truth_id, n): the contingency table of predicted
    clusters against truth labels, from one (cluster_id, truth_id) row
    per record.  At most one row per (cluster, label) overlap, so every
    evaluation below shuffles O(#clusters) rows, never record pairs."""
    return (assign.groupBy("cluster_id", "truth_id")
            .agg(F.count(F.lit(1)).alias("n")))


def pairwise_eval(assign: DataFrame) -> DataFrame:
    """One row (tp, fp, fn, pairwise_precision, pairwise_recall,
    pairwise_f1) of predicted clusters against truth; ``assign`` has one
    (cluster_id, truth_id) row per record.

    The contingency-table pair-counting identity: tp = sum of C(n,2)
    over the cells, tp + fp and tp + fn the same sum over the two
    marginals, so nothing quadratic is materialized and a predicted
    cluster of 10^6 records is one cell row, not 5*10^11 pairs.  F1 is
    2tp/(pp + tpp) (the denominator is 2tp + fp + fn); each ratio is one
    bigint/bigint division."""
    cells = contingency(assign).localCheckpoint(eager=False)
    # coalesce: with zero cells sum() is NULL, and an empty assignment
    # must still report zero counts
    half = "s * (s - 1) div 2"
    zero = F.lit(0).cast("bigint")
    tp = cells.agg(F.coalesce(F.sum(F.expr("n * (n - 1) div 2")), zero)
                   .alias("tp"))
    pp = (cells.groupBy("cluster_id").agg(F.sum("n").alias("s"))
          .agg(F.coalesce(F.sum(F.expr(half)), zero).alias("pp")))
    tt = (cells.groupBy("truth_id").agg(F.sum("n").alias("s"))
          .agg(F.coalesce(F.sum(F.expr(half)), zero).alias("tpp")))
    tp_c, pp_c, tt_c = F.col("tp"), F.col("pp"), F.col("tpp")
    return tp.crossJoin(pp).crossJoin(tt).select(
        tp_c.cast("bigint").alias("tp"),
        (pp_c - tp_c).cast("bigint").alias("fp"),
        (tt_c - tp_c).cast("bigint").alias("fn"),
        F.when(pp_c > 0, tp_c / pp_c).otherwise(F.lit(1.0))
         .alias("pairwise_precision"),
        F.when(tt_c > 0, tp_c / tt_c).otherwise(F.lit(1.0))
         .alias("pairwise_recall"),
        F.when(pp_c + tt_c > 0, (F.lit(2.0) * tp_c) / (pp_c + tt_c))
         .otherwise(F.lit(1.0)).alias("pairwise_f1"))


def bcubed_eval(assign: DataFrame) -> DataFrame:
    """B-cubed (Bagga & Baldwin 1998) cell table of predicted clusters
    against truth: (cluster_id, truth_id, n, pred_size, truth_size,
    precision_mass, recall_mass), one row per contingency cell;
    ``assign`` has one (cluster_id, truth_id) row per record.

    The per-record definition (a record's precision is the share of
    its predicted cluster that carries its truth label) collapses onto
    the cells: B-cubed precision = sum(precision_mass) / N with
    precision_mass = n^2 / pred_size, recall likewise over truth_size.
    Each mass is one bigint/bigint division; the two marginal sizes
    are window sums over the cell table."""
    cells = contingency(assign)
    wp = Window.partitionBy("cluster_id")
    wt = Window.partitionBy("truth_id")
    return (cells
            .withColumn("pred_size", F.sum("n").over(wp))
            .withColumn("truth_size", F.sum("n").over(wt))
            .select("cluster_id", "truth_id",
                    F.col("n").cast("bigint").alias("n"),
                    F.col("pred_size").cast("bigint").alias("pred_size"),
                    F.col("truth_size").cast("bigint").alias("truth_size"),
                    (F.col("n") * F.col("n") / F.col("pred_size"))
                    .alias("precision_mass"),
                    (F.col("n") * F.col("n") / F.col("truth_size"))
                    .alias("recall_mass")))


def blocking_eval(pairs: DataFrame, truth: DataFrame) -> DataFrame:
    """One row of blocking quality (Christen, "Data Matching", 2012):
    n_records, n_total_pairs = C(n,2), n_candidates, n_truth_pairs,
    n_covered_pairs (true pairs among the candidates), reduction_ratio
    RR = 1 - n_candidates / C(n,2) and pairs_completeness
    PC = n_covered_pairs / n_truth_pairs, the recall ceiling of any
    scorer downstream.

    ``pairs``: (id_a, id_b); ``truth``: one (conv_id, truth_id) row per
    record.  True pairs come from the label sizes and the covered count
    from two equi-joins of the candidates against the labels, so
    nothing quadratic is materialized."""
    tot = truth.agg(F.count(F.lit(1)).alias("n"))
    cand = pairs.agg(F.count(F.lit(1)).alias("n_candidates"))
    cov = (pairs
           .join(truth.select(F.col("conv_id").alias("id_a"),
                              F.col("truth_id").alias("lab_a")), "id_a")
           .join(truth.select(F.col("conv_id").alias("id_b"),
                              F.col("truth_id").alias("lab_b")), "id_b")
           .where(F.col("lab_a") == F.col("lab_b"))
           .agg(F.count(F.lit(1)).alias("n_covered")))
    tru = (truth.groupBy("truth_id").agg(F.count(F.lit(1)).alias("s"))
           .agg(F.coalesce(F.sum(F.expr("s * (s - 1) div 2")),
                           F.lit(0).cast("bigint")).alias("n_truth")))
    total = F.expr("n * (n - 1) div 2")
    return tot.crossJoin(cand).crossJoin(cov).crossJoin(tru).select(
        F.col("n").cast("bigint").alias("n_records"),
        total.cast("bigint").alias("n_total_pairs"),
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_truth").cast("bigint").alias("n_truth_pairs"),
        F.col("n_covered").cast("bigint").alias("n_covered_pairs"),
        F.when(total > 0, F.lit(1.0) - F.col("n_candidates") / total)
         .otherwise(F.lit(1.0)).alias("reduction_ratio"),
        F.when(F.col("n_truth") > 0,
               F.col("n_covered") / F.col("n_truth"))
         .otherwise(F.lit(1.0)).alias("pairs_completeness"))


def _labelled(clusters: DataFrame, truth: DataFrame) -> DataFrame:
    """One (cluster_id, truth_id) row per record of ``clusters`` that
    ``truth`` labels; both inputs are (conv_id, cluster_id)."""
    return clusters.join(
        truth.select("conv_id", F.col("cluster_id").alias("truth_id")),
        "conv_id").select("cluster_id", "truth_id")


def pairwise_f1(clusters: DataFrame, truth: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of predicted clusters vs truth, as a
    dict over :func:`pairwise_eval`'s row.  Both inputs:
    (conv_id, cluster_id)."""
    r = pairwise_eval(_labelled(clusters, truth)).first()
    return {"precision": r["pairwise_precision"],
            "recall": r["pairwise_recall"], "f1": r["pairwise_f1"],
            "pred_pairs": float(r["tp"] + r["fp"]),
            "true_pairs": float(r["tp"] + r["fn"]),
            "common_pairs": float(r["tp"])}


def bcubed(clusters: DataFrame, truth: DataFrame) -> dict:
    """B-cubed precision/recall/F1 of predicted clusters vs truth: the
    masses of :func:`bcubed_eval`'s cells summed and divided by the
    record count.  Pairwise counting weighs a cluster quadratically in
    its size, so one giant merged cluster dominates it; B-cubed weighs
    every record once.  Both inputs: (conv_id, cluster_id)."""
    r = (bcubed_eval(_labelled(clusters, truth))
         .agg(F.sum("precision_mass").alias("p"),
              F.sum("recall_mass").alias("r"), F.sum("n").alias("n"))
         .first())
    n = r["n"] or 0
    precision = r["p"] / n if n else 1.0
    recall = r["r"] / n if n else 1.0
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    return {"precision": precision, "recall": recall, "f1": f1,
            "n_records": float(n)}


def blocking_quality(pairs: DataFrame, truth: DataFrame) -> dict:
    """:func:`blocking_eval`'s row as a dict.  ``pairs``: (id_a, id_b);
    ``truth``: (conv_id, cluster_id)."""
    r = blocking_eval(pairs, truth.select(
        "conv_id", F.col("cluster_id").alias("truth_id"))).first()
    return {"n_records": r["n_records"], "candidates": r["n_candidates"],
            "reduction_ratio": r["reduction_ratio"],
            "pairs_completeness": r["pairs_completeness"],
            "true_pairs": float(r["n_truth_pairs"]),
            "true_in_candidates": r["n_covered_pairs"]}


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
    # run_linkage runs Spark jobs during construction: each lazy pin's
    # map stage, and CC's edge fingerprint and driver collect, which
    # force canonical -> ... -> edges; clusters.count() runs the rest
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
