"""spark-submit entry point: full linkage pipeline over a transcripts
parquet/Iceberg table, checkpointed + resumable via RunCatalog.

    spark-submit --master <master> \
        --py-files dist/edlib_spark.zip \
        tools/run_linkage_job.py \
        --input  <transcripts parquet dir or table> \
        --output <run dir for stage checkpoints + clusters> \
        --run-id r1 [--tau 0.2] [--resume]

Every stage writes parquet + a JSON lineage manifest (per-partition row
counts, wall ms); rerunning with the same --run-id resumes from the
last completed stage.  The printed summary echoes the session's engine
settings (edlib_spark.session.ENGINE_CONF) as the job ran with them.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--tau", type=float, default=0.2)
    ap.add_argument("--mode", default="NW")
    ap.add_argument("--use-minhash", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from edlib_spark.plans.catalog import RunCatalog
    from edlib_spark.plans.linkage import LinkageConfig, run_linkage
    from edlib_spark.session import ENGINE_CONF

    # the engine's session settings; the master stays spark-submit's
    spark = (SparkSession.builder.appName("edlib-spark-linkage")
             .config(map=ENGINE_CONF).getOrCreate())

    transcripts = spark.read.parquet(args.input)
    catalog = RunCatalog(spark, args.output, args.run_id)
    cfg = LinkageConfig(tau=args.tau, mode=args.mode,
                        use_minhash=args.use_minhash)
    stages = run_linkage(transcripts, cfg, catalog=catalog)
    n_clusters = stages["clusters"].select("cluster_id").distinct().count()
    print(json.dumps({
        "run_id": args.run_id,
        "n_clusters": int(n_clusters),
        "conf": {key: spark.conf.get(key) for key in ENGINE_CONF},
        "stages": catalog.manifests(),
    }, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
