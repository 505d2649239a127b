"""Deterministic synthetic transcript source (BASELINE.json input_hint).

Schema (mandated):
    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

Ground truth for entity-resolution tests is encoded in conv_id:
``c{cluster:06d}_{variant:02d}`` — variants of a cluster are char-level
mutations (substitution / insertion / deletion at 1-40% rates) of the
cluster's base conversation, mirroring the reference's mutated FASTA
fixtures (reference test_data/ tree, generator mutatrix_mutator.sh).

Generation is distributed (mapInPandas over spark.range) and
*partitioning-independent*: every cluster derives its own numpy
SeedSequence from (seed, cluster_id), so the same (seed, scale) always
yields byte-identical rows regardless of parallelism — required for
golden tests and checkpoint-resume equality.  Rows are emitted with
shuffled turn order to exercise window re-ordering downstream.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType, TimestampType,
)

# The data dir of the checkout this package lives in (next to the
# edlib_spark package): named corpora and the driver contract's side
# tables land here, so a second checkout never reads the first one's.
DATA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "data")

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), False),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), False),
])

_WORDS = (
    "the a of to and in for on with by from at this that query table scan "
    "filter join group sort merge hash shuffle partition stage task row "
    "column data batch stream window agg count sum min max avg key value "
    "index plan cost spill cache block salt skew broadcast map reduce "
    "read write commit checkpoint resume lineage metric cluster node "
    "executor driver memory disk network latency throughput error retry "
    "ok yes no maybe please thanks help run stop start show tell find"
).split()

_TOOLS = ["search", "calculator", "browser", "sql", "python", "files"]
_ROLES = ["user", "assistant", "tool"]
_EPOCH = dt.datetime(2024, 1, 1)

# scale name -> (n_clusters, max_variants)
SCALES = {
    "tiny": (20, 3),
    "small": (300, 4),
    "medium": (2000, 4),
    "bench": (15000, 4),
}


def _gen_cluster(cluster_id: int, seed: int, max_variants: int):
    """All transcript rows for one ground-truth cluster (deterministic)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, cluster_id]))
    n_turns = int(rng.integers(4, 14))
    n_variants = int(rng.integers(1, max_variants + 1))

    # base conversation
    base_turns = []
    for t in range(n_turns):
        n_words = int(rng.integers(6, 26))
        words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words)]
        base_turns.append(" ".join(words))
    roles = [_ROLES[t % 3] for t in range(n_turns)]
    tools = [_TOOLS[int(rng.integers(0, len(_TOOLS)))] if r == "tool"
             else None for r in roles]

    rows = []
    for v in range(n_variants):
        conv_id = f"c{cluster_id:06d}_{v:02d}"
        if v == 0:
            texts = base_turns
        else:
            rate = float(rng.uniform(0.01, 0.12))
            texts = [_mutate(s, rate, rng) for s in base_turns]
        order = rng.permutation(n_turns)  # emit shuffled
        for t in order:
            ts = _EPOCH + dt.timedelta(seconds=cluster_id * 1000 + v * 100
                                       + int(t))
            rows.append((conv_id, int(t), roles[t], texts[t], tools[t], ts))
    return rows


def _mutate(text: str, rate: float, rng) -> str:
    """Char-level substitution/insertion/deletion at the given rate."""
    a = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).copy()
    n = len(a)
    if n == 0:
        return text
    pool = np.frombuffer("abcdefghijklmnopqrstuvwxyz .,!?"
                         .encode("utf-32-le"), dtype=np.uint32)
    r = rng.random(n)
    sub = r < rate * 0.6
    a[sub] = pool[rng.integers(0, len(pool), int(sub.sum()))]
    keep = ~((r >= rate * 0.6) & (r < rate * 0.8))
    a = a[keep]
    n_ins = int(((r >= rate * 0.8) & (r < rate)).sum())
    if n_ins:
        pos = rng.integers(0, len(a) + 1, n_ins)
        a = np.insert(a, np.sort(pos), pool[rng.integers(0, len(pool),
                                                         n_ins)])
    return a.tobytes().decode("utf-32-le")


def synth_transcripts(spark: SparkSession, n_clusters: int,
                      max_variants: int = 4, seed: int = 42,
                      num_partitions: int | None = None) -> DataFrame:
    """Distributed deterministic transcript generation."""
    if num_partitions is None:
        num_partitions = min(64, max(4, n_clusters // 64))

    def gen(batches):
        for pdf in batches:
            rows = []
            for cid in pdf["id"]:
                rows.extend(_gen_cluster(int(cid), seed, max_variants))
            yield pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                              "text", "tool", "ts"])

    return (spark.range(0, n_clusters, numPartitions=num_partitions)
            .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA))


def transcripts_path(scale: str, base_dir: str = DATA_DIR) -> str:
    return os.path.join(base_dir, f"transcripts_{scale}.parquet")


def ensure_transcripts_parquet(spark: SparkSession, scale: str,
                               base_dir: str = DATA_DIR,
                               seed: int = 42) -> str:
    """Materialize (once) the synthetic transcripts for a named scale;
    returns the parquet path.  Used by the driver-contract queries and
    the DuckDB oracle, which reads the same files."""
    path = transcripts_path(scale, base_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        n_clusters, max_variants = SCALES[scale]
        df = synth_transcripts(spark, n_clusters, max_variants, seed)
        df.write.mode("overwrite").parquet(path)
    return path


def ground_truth_cluster(conv_id_col):
    """Ground-truth cluster label from the conv_id encoding."""
    return F.split(conv_id_col, "_").getItem(0)


def read_transcripts_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines transcript source: one turn object per line with the
    mandated fields; schema enforced up front (no inference pass over
    100 TB), ts parsed from ISO-8601, rows with a null conv_id or
    turn_idx dropped as malformed."""
    raw_schema = StructType([
        StructField("conv_id", StringType(), True),
        StructField("turn_idx", IntegerType(), True),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", StringType(), True),
    ])
    df = spark.read.schema(raw_schema).json(path)
    return (df.where(F.col("conv_id").isNotNull()
                     & F.col("turn_idx").isNotNull())
            .withColumn("ts", F.to_timestamp("ts")))


def write_transcripts_jsonl(df: DataFrame, path: str) -> None:
    """Inverse of read_transcripts_jsonl (ts as ISO-8601 strings)."""
    (df.withColumn("ts", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
     .write.mode("overwrite").json(path))
