"""Traced run: per-layer numbers for one workload.

Each layer's public function is called in turn under its own Spark job
group, its output is materialized the way ``RunCatalog.stage`` does,
and a span (name, start, end, parent) is kept in memory around the
call.  Spark's JSON event log is on in this run only; after the session
stops, its task-end events are folded per job group.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
import uuid
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from edlib_spark import kernel
from edlib_spark.batch import batch_edit_distance
from edlib_spark.functions.alignment import ALIGN_RESULT_TYPE, edit_distance
from edlib_spark.plans.catalog import RunCatalog
from edlib_spark.plans.linkage import (LinkageConfig, blocking_quality,
                                       run_linkage)
from edlib_spark.sources.transcripts import ground_truth_cluster

MB = 1 << 20
# layers whose Spark jobs are folded from the event log
SPARK_LAYERS = ("canonicalize", "blocking", "pairs", "scoring", "edges",
                "cc", "udf")
# run_linkage stage name -> layer
STAGE_LAYER = {"canonical": "canonicalize", "blocks": "blocking",
               "candidate_pairs": "pairs", "scored_pairs": "scoring",
               "edges": "edges", "clusters": "cc"}

PER_LAYER = (
    ["session.start_s", "transcripts.gen_s",
     "canonicalize.wall_s", "canonicalize.shuffle_write_mb",
     "blocking.wall_s", "blocking.rows_out",
     "pairs.wall_s", "pairs.candidates", "pairs.shuffle_write_mb",
     "pairs.task_skew", "pairs.completeness", "pairs.reduction_ratio",
     "scoring.wall_s", "scoring.join_shuffle_mb", "scoring.length_pruned",
     "scoring.match_ratio", "edges.wall_s",
     "udf.boundary_s", "udf.kernel_s", "udf.bytes_in_mb", "udf.bytes_out_mb",
     "kernel.pairs_per_s_1core", "kernel.early_exit_ratio",
     "kernel.numpy_share", "traceback.ms_per_pair",
     "cc.wall_s", "cc.jobs", "cc.shuffle_write_mb", "cc.task_skew"]
    + [f"{layer}.{m}" for layer in SPARK_LAYERS
       for m in ("executor_run_s", "gc_s", "spill_mb")]
    + ["trace.plain_pass_s", "trace.traced_pass_s", "trace.overhead_s"])

UNITS = {"ms_per_pair": "ms", "_s": "s", "_mb": "MB", "per_s_1core": "1/s"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(("ratio", "share", "skew",
                                     "completeness")) else "count"


class Tracer:
    """In-memory spans plus the Spark job group of the open span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if job_group:
            self.sc.setJobGroup(job_group, name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent})
            if job_group:
                self.sc.setJobGroup("untraced", "untraced")

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)


class TracedCatalog(RunCatalog):
    """``RunCatalog`` whose every stage runs inside a layer span."""

    def __init__(self, spark, base_dir, tracer):
        super().__init__(spark, base_dir, uuid.uuid4().hex)
        self.tracer = tracer

    def stage(self, name, build, num_partitions=None):
        layer = STAGE_LAYER[name]
        with self.tracer.span(layer, job_group=layer):
            return super().stage(name, build, num_partitions)


def fold_event_log(log_dir: str) -> dict:
    """Per job group: jobs, executor run / GC seconds, spill and shuffle
    write MB, and the task skew (max over median task time) of the
    group's busiest stage."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list] = {}
    jobs: dict[str, int] = {}
    # Spark 4 writes a directory of rolled event files per application
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "untraced")
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    out: dict[str, dict] = {}
    for sid, evs in tasks.items():
        g = out.setdefault(stage_group.get(sid, "untraced"), {
            "executor_run_s": 0.0, "gc_s": 0.0, "spill_mb": 0.0,
            "shuffle_write_mb": 0.0, "stages": []})
        run = [e["Task Metrics"]["Executor Run Time"] / 1000 for e in evs]
        g["executor_run_s"] += sum(run)
        g["gc_s"] += sum(e["Task Metrics"]["JVM GC Time"] for e in evs) / 1000
        g["spill_mb"] += sum(e["Task Metrics"]["Disk Bytes Spilled"]
                             for e in evs) / MB
        g["shuffle_write_mb"] += sum(
            e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for e in evs) / MB
        durations = [e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]
                     for e in evs]
        g["stages"].append((sum(run), durations))
    for group, g in out.items():
        busiest = max(g.pop("stages"))[1]
        g["task_skew"] = max(busiest) / max(statistics.median(busiest), 1)
        g["jobs"] = jobs.get(group, 0)
    return out


def _k_bound():
    """The linkage scorer's per-pair bound, k = ceil(tau * max_len)."""
    return F.ceil(F.lit(LinkageConfig().tau) * F.greatest(
        F.length("text_a"), F.length("text_b"))).cast("int")


def _noop_column(returns_struct: bool):
    """A pandas UDF call that does no work, with the real UDF's
    signature, over (text_a, text_b)."""
    if returns_struct:
        @pandas_udf(ALIGN_RESULT_TYPE)
        def noop_align(q: pd.Series, t: pd.Series) -> pd.DataFrame:
            n = len(q)
            return pd.DataFrame({"editDistance": [0] * n,
                                 "alphabetLength": [0] * n,
                                 "locations": [[]] * n, "cigar": [""] * n})
        return noop_align(F.col("text_a"), F.col("text_b")).editDistance

    @pandas_udf(IntegerType())
    def noop_dist(q: pd.Series, t: pd.Series, k: pd.Series) -> pd.Series:
        return pd.Series(np.zeros(len(q), dtype=np.int32))
    return noop_dist(F.col("text_a"), F.col("text_b"), _k_bound())


def _sum_of(df, col) -> None:
    """Aggregate a UDF's output, so the optimizer cannot prune the call."""
    df.select(col.alias("x")).agg(F.sum("x")).collect()


def _udf_layer(tracer, frame, real_pass, returns_struct: bool) -> dict:
    """Boundary versus kernel split of one UDF pass over ``frame``: the
    no-op pass costs scan, Arrow encode, ship, decode and return; the
    real pass minus it is the kernel."""
    with tracer.span("udf", job_group="udf"):
        real_pass()
    with tracer.span("udf.noop", job_group="udf_noop"):
        _sum_of(frame, _noop_column(returns_struct))
    boundary = tracer.wall("udf.noop")
    size_in = F.octet_length("text_a") + F.octet_length("text_b")
    return {"udf.boundary_s": boundary,
            "udf.kernel_s": tracer.wall("udf") - boundary,
            "udf.bytes_in_mb": frame.agg(F.sum(size_in)).collect()[0][0] / MB}


def _kernel_sample(frame, k_bounded: bool) -> dict:
    """Spark-free kernel numbers on one core over a fixed sample."""
    rows = (frame.orderBy("id_a", "id_b").select("text_a", "text_b")
            .limit(2000).collect())
    qs = [r["text_a"] for r in rows]
    ts = [r["text_b"] for r in rows]
    tau = LinkageConfig().tau
    ks = (np.array([math.ceil(tau * max(len(q), len(t)))
                    for q, t in zip(qs, ts)]) if k_bounded else -1)
    t0 = time.perf_counter()
    d = batch_edit_distance(qs, ts, "NW", ks)
    secs = time.perf_counter() - t0
    non_bmp = [max(map(ord, q + t)) > 0xFFFF for q, t in zip(qs, ts)]
    out = {"kernel.pairs_per_s_1core": len(rows) / secs,
           "kernel.early_exit_ratio": float(np.mean(d == -1)),
           "kernel.numpy_share": float(np.mean(non_bmp))}
    if not k_bounded:
        picks = rows[::max(1, len(rows) // 10)][:10]
        t0 = time.perf_counter()
        for r in picks:
            kernel.align(r["text_a"], r["text_b"], "NW", "path",
                         max_alphabet=None)
        out["traceback.ms_per_pair"] = \
            (time.perf_counter() - t0) * 1000 / len(picks)
    return out


def traced_pass(wl, spark, tracer, tmp) -> dict:
    """One traced pass of workload ``wl``, then the UDF and kernel
    splits; returns the layer metrics that do not come from the event
    log."""
    m: dict = {}
    if wl.name == "link":
        with tracer.span("pass"):
            stages = run_linkage(wl.transcripts, LinkageConfig(),
                                 catalog=TracedCatalog(spark, tmp, tracer))
        cat = {n: s.count() for n, s in stages.items()}
        truth = stages["canonical"].select(
            "conv_id", ground_truth_cluster(F.col("conv_id"))
            .alias("cluster_id"))
        q = blocking_quality(stages["pairs"], truth)
        m.update({"blocking.rows_out": cat["blocks"],
                  "pairs.candidates": cat["pairs"],
                  "pairs.completeness": q["pairs_completeness"],
                  "pairs.reduction_ratio": q["reduction_ratio"],
                  "scoring.length_pruned": cat["pairs"] - cat["scored"],
                  "scoring.match_ratio": cat["edges"] / max(cat["scored"], 1)})
        # the scorer's input: candidate pairs with both texts attached
        texts = stages["canonical"].select("conv_id", "full_text")
        frame = (stages["pairs"]
                 .join(texts.toDF("id_a", "text_a"), "id_a")
                 .join(texts.toDF("id_b", "text_b"), "id_b"))
        real = edit_distance(F.col("text_a"), F.col("text_b"), "NW",
                             _k_bound())
        m.update(_udf_layer(tracer, frame, lambda: _sum_of(frame, real),
                            returns_struct=False))
        m["udf.bytes_out_mb"] = 4 * cat["pairs"] / MB
        m.update(_kernel_sample(frame, k_bounded=True))
    else:
        with tracer.span("pass"):
            m.update(_udf_layer(tracer, wl.pairs, wl.run_pass,
                                returns_struct=True))
        r = F.col("r")
        size_out = (8 + 8 * F.size(r.locations)
                    + F.coalesce(F.octet_length(r.cigar), F.lit(0)))
        m["udf.bytes_out_mb"] = wl.aligned(wl.pairs).agg(
            F.sum(size_out)).collect()[0][0] / MB
        m.update(_kernel_sample(wl.pairs, k_bounded=False))
    for layer in ("canonicalize", "blocking", "pairs", "scoring", "edges",
                  "cc"):
        if any(s["name"] == layer for s in tracer.spans):
            m[f"{layer}.wall_s"] = tracer.wall(layer)
    m["trace.traced_pass_s"] = (tracer.wall("udf") if wl.name == "align"
                                else tracer.wall("pass"))
    return m


def layer_metrics(base: dict, folded: dict) -> dict:
    """Every per-layer metric by name; a layer the workload does not
    reach reads 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(base)
    for layer in SPARK_LAYERS:
        g = folded.get(layer)
        if not g:
            continue
        for key in ("executor_run_s", "gc_s", "spill_mb"):
            m[f"{layer}.{key}"] = g[key]
    for layer, key in (("canonicalize", "shuffle_write_mb"),
                       ("pairs", "shuffle_write_mb"), ("pairs", "task_skew"),
                       ("cc", "shuffle_write_mb"), ("cc", "task_skew"),
                       ("cc", "jobs")):
        if layer in folded:
            m[f"{layer}.{key}"] = folded[layer][key]
    if "scoring" in folded:
        m["scoring.join_shuffle_mb"] = folded["scoring"]["shuffle_write_mb"]
    m["trace.overhead_s"] = m["trace.traced_pass_s"] - m["trace.plain_pass_s"]
    return m
