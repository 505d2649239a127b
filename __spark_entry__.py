"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship: full record-linkage pipeline (canonicalize →
                  block → pair → score → cluster) on deterministic
                  synthetic transcripts; returns the cluster assignments.
queries()       — one entry per implemented operator (SURVEY.md §2);
                  each callable takes (spark, sf_dir) -> DataFrame.
oracle_sql()    — the equivalent DuckDB SQL of every query.
Both are views of driver_contract.registry(), in the same order.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: linkage clusters over synthetic transcripts
    (tiny scale for the smoke check)."""
    from edlib_spark.plans.linkage import LinkageConfig, run_linkage
    from edlib_spark.sources.transcripts import synth_transcripts

    transcripts = synth_transcripts(spark, n_clusters=20, seed=42)
    return run_linkage(transcripts, LinkageConfig())["clusters"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from edlib_spark.driver_contract import build_queries
    return build_queries()


def oracle_sql() -> dict[str, str]:
    from edlib_spark.driver_contract import build_oracle_sql
    return build_oracle_sql()
