"""The north rule's ship criterion as a persistent test: the full
checkpointed linkage job submitted via spark-submit --py-files onto a
REAL multi-executor cluster (local-cluster launches separate executor
JVMs; the repo checkout is stripped from PYTHONPATH so the engine
reaches driver AND executors only through the zip)."""

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_multi_executor_ship(spark, tmp_path):
    from edlib_spark.sources.transcripts import ensure_transcripts_parquet

    # tiny corpus: 20 planted clusters — enough to exercise every stage
    tpath = ensure_transcripts_parquet(spark, "tiny")

    from conftest import load_tools_package
    zip_path = load_tools_package().build(str(tmp_path / "edlib_spark.zip"))

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_dir = tmp_path / "run"
    proc = subprocess.run(
        ["spark-submit", "--master", "local-cluster[2,2,2304]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path,
         os.path.join(REPO, "tools", "run_linkage_job.py"),
         "--input", tpath, "--output", str(out_dir), "--run-id", "t1"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]

    # the job prints one JSON document (summary + stage manifests)
    payload = json.loads(proc.stdout[proc.stdout.index("{"):])
    assert payload["run_id"] == "t1"
    assert payload["n_clusters"] == 20  # planted clusters recovered
    # the job's session carries the engine settings, not spark-submit's
    # defaults (10k-row Arrow batches, AQE's 1m coalescing floor)
    from edlib_spark.session import ENGINE_CONF
    assert payload["conf"] == ENGINE_CONF
    assert payload["conf"][
        "spark.sql.execution.arrow.maxRecordsPerBatch"] == "2048"
    assert payload["conf"][
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"] == "128k"
    stages = {s["stage"] for s in payload["stages"]}
    assert {"canonical", "blocks", "candidate_pairs", "scored_pairs",
            "edges", "clusters"} <= stages
    # per-partition lineage present for every stage
    assert all(s["partitions"] for s in payload["stages"])
    # checkpoints really landed on disk
    assert (out_dir / "t1" / "clusters" / "_SUCCESS").exists()
    assert (out_dir / "t1" / "clusters.json").exists()


def test_engine_session_skips_call_site_capture(spark):
    """ENGINE_CONF turns off PySpark's DataFrame debugging, so building
    a plan on the driver does not walk the Python stack and set the JVM
    call-site origin on every F.* call and Column operator.  PySpark
    reads the flag from the active session once per process and caches
    it (``pyspark.errors.utils._enable_debugging_cache``), so the check
    is only as fresh as the first plan this process built."""
    from pyspark.errors.utils import is_debugging_enabled

    from edlib_spark.session import ENGINE_CONF

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert ENGINE_CONF[key] == "false"
    assert spark.conf.get(key) == "false"
    assert is_debugging_enabled() is False
