"""Structured Streaming surface for the pairwise scorer.

The reference is strictly batch (no streaming exists to mirror —
SURVEY.md §2B), but the scoring stage is stateless per pair, so lifting
it onto a stream is a straight reuse of the batch scorer's core
(``operators.scoring.score_attached``): ``readStream`` source -> the
same prune/UDF pipeline -> ``writeStream`` sink.  Late/duplicate pairs
are handled by a watermark + dropDuplicates on the pair key.

Clustering is NOT streamed: connected components is an iterative global
fixpoint; the intended deployment scores matches continuously and runs
the CC consolidation as a periodic batch job over the accumulated edge
set (standard lambda-style split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scoring import match_rule, score_attached


def score_pair_stream(pairs: DataFrame, tau: float = 0.2,
                      mode: str = "NW") -> DataFrame:
    """Score a (possibly streaming) DataFrame of candidate pairs.

    Input columns: id_a, id_b, text_a, text_b (len_a/len_b derived if
    absent).  Works identically on batch and streaming DataFrames —
    the plan is fully stateless, and the scoring itself is the batch
    scorer's core (operators.scoring.score_attached)."""
    df = pairs
    if "len_a" not in df.columns:
        df = df.withColumn("len_a", F.length("text_a"))
    if "len_b" not in df.columns:
        df = df.withColumn("len_b", F.length("text_b"))
    return score_attached(df, tau, mode)


def dedup_pair_stream(pairs: DataFrame, ts_col: str = "ts",
                      delay: str = "10 minutes") -> DataFrame:
    """Late/duplicate handling: watermark on the event-time column +
    ``dropDuplicatesWithinWatermark`` on the pair key.  Re-delivered
    candidate pairs (at-least-once upstream) are scored once; a pair's
    dedup state is evicted once the watermark passes ``delay`` behind
    the max seen event time, which bounds state size in a continuously
    running deployment.  (Plain ``dropDuplicates`` on a key subset that
    excludes the event-time column would keep state FOREVER — Spark
    only ties dedup-state eviction to the watermark when the watermark
    column is part of the key, which is exactly the contract
    dropDuplicatesWithinWatermark provides without changing the key.)
    A duplicate arriving later than ``delay`` after the original can be
    re-emitted — at-least-once, matching the upstream delivery model;
    downstream writes are idempotent on (id_a, id_b)."""
    return (pairs.withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(["id_a", "id_b"]))


def windowed_match_counts(matches: DataFrame, ts_col: str = "ts",
                          window: str = "1 hour",
                          delay: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation over the match stream:
    matches/sec style monitoring (count + mean normalized distance per
    window).  Late rows beyond ``delay`` are dropped; windows finalize
    (and emit, in append mode) when the watermark passes their end."""
    return (matches.withWatermark(ts_col, delay)
            .groupBy(F.window(F.col(ts_col), window).alias("win"))
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.avg("norm_distance").alias("mean_norm_distance"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "n_matches", "mean_norm_distance"))


def run_stream_scoring(spark: SparkSession, input_path: str,
                       output_path: str, checkpoint_path: str,
                       schema, tau: float = 0.2, mode: str = "NW",
                       available_now: bool = True):
    """File-source streaming job: watch ``input_path`` for candidate-pair
    parquet, score each micro-batch, append matches to ``output_path``.

    ``available_now=True`` drains everything currently available and
    stops (used by tests and backfills); False runs continuously."""
    stream = (spark.readStream.schema(schema).parquet(input_path))
    scored = score_pair_stream(stream, tau=tau, mode=mode)
    writer = (scored.where(match_rule(tau)).writeStream
              .format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()
