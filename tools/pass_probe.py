"""Count the Spark plumbing of a linkage or near-dup pass.

    python tools/pass_probe.py MODE [--passes N] [--query Q --sf-dir DIR]

MODE is the pass that is repeated:

  link            ``run_linkage(LinkageConfig())`` on perfbench's ``link``
                  input (``synth_transcripts(500, 4, seed=1)``)
  link-minhash    the same with ``use_minhash=True``
  medium          ``run_linkage`` on ``measure_linkage``'s medium corpus
  medium-minhash  the same with ``use_minhash=True``
  contract        the driver-contract query ``--query`` on ``--sf-dir``
                  (e.g. ``doc_minhash_neardup``, which runs
                  ``dedup.minhash_neardup_pairs``)

Spark runs on local[4] with the event log on.  After two warm passes,
each of N timed passes (default 5) runs in its own job group; per pass
the tool records the wall, Spark jobs, stages run, py4j commands sent by
the driver and shuffle bytes written.  The linkage modes also time
building the canonical -> edges DataFrames with no action (py4j
commands and ms).  Then one more run of the pair query (the scored
pairs over ``link_pairs``' front, as ``run_linkage`` scores them; for
``contract`` the query itself) gives the final AQE plan's shuffle and
broadcast query stages and the bytes written by each exchange.

Prints one JSON object.  The tool imports the checkout it lives in, so
to probe another commit, copy it into that checkout's ``tools/``.
BENCH/LINK_PASS.md has the numbers it produced.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import io
import json
import os
import re
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MODES = ("link", "link-minhash", "medium", "medium-minhash", "contract")


def _count_py4j():
    """Wrap py4j's send_command; returns the one-element counter."""
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    count = [0]
    for cls in (cs.ClientServerConnection, jg.GatewayConnection):
        orig = cls.send_command

        def send_command(self, *a, _orig=orig, **k):
            count[0] += 1
            return _orig(self, *a, **k)
        cls.send_command = send_command
    return count


def _event_log(log_dir: str, query_group: str) -> dict:
    """Per job group: jobs, stages run, shuffle bytes written; and bytes
    written per exchange of the ``query_group`` executions."""
    events = []
    for d, _, files in os.walk(log_dir):
        for f in files:
            if not f.startswith("."):
                with open(os.path.join(d, f)) as fh:
                    events += [json.loads(ln) for ln in fh]
    job_group, stage_group, exec_group = {}, {}, {}
    stage_bytes = collections.Counter()
    done, acc_value, exchange_acc, plans = set(), {}, {}, []
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            if props.get("spark.sql.execution.id") is not None:
                exec_group.setdefault(
                    int(props["spark.sql.execution.id"]), g)
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif ev == "SparkListenerTaskEnd":
            w = ((e.get("Task Metrics") or {})
                 .get("Shuffle Write Metrics") or {})
            stage_bytes[e["Stage ID"]] += w.get("Shuffle Bytes Written", 0)
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            done.add(si["Stage ID"])
            for a in si.get("Accumulables", []):
                acc_value[a["ID"]] = a.get("Value")
        elif ev.endswith(("SparkListenerSQLAdaptiveExecutionUpdate",
                          "SparkListenerSQLExecutionStart")):
            plans.append((e["executionId"], e["sparkPlanInfo"]))

    def walk(node):
        name = node.get("nodeName", "")
        if "Exchange" in name and "Reused" not in name:
            for m in node.get("metrics", []):
                if m["name"] == "shuffle bytes written":
                    exchange_acc[m["accumulatorId"]] = node["simpleString"]
        for child in node.get("children", []):
            walk(child)

    for xid, info in plans:
        if exec_group.get(xid) == query_group:
            walk(info)
    groups = collections.defaultdict(
        lambda: {"jobs": 0, "stages": 0, "shuffle_bytes": 0})
    for g in job_group.values():
        groups[g]["jobs"] += 1
    for sid, g in stage_group.items():
        if sid in done:
            groups[g]["stages"] += 1
            groups[g]["shuffle_bytes"] += stage_bytes[sid]
    exchanges = collections.Counter()
    for acc, desc in exchange_acc.items():
        if acc_value.get(acc) is not None:
            exchanges[re.sub(r"#\d+", "", desc)] += int(acc_value[acc])
    return {"groups": dict(groups), "exchanges": dict(exchanges)}


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("mode", choices=MODES)
    p.add_argument("--passes", type=int, default=5)
    p.add_argument("--query", help="registry query of the contract mode")
    p.add_argument("--sf-dir", help="dataset dir of the contract mode")
    args = p.parse_args(argv)
    if args.mode == "contract" and not (args.query and args.sf_dir):
        p.error("contract needs --query and --sf-dir")

    from perfbench.run import WORK, hermetic_env, stop_spark

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="probe-", dir=os.path.join(WORK, "tmp"))
    conf = hermetic_env(tmp)
    log_dir = os.path.join(tmp, "eventlog")
    os.makedirs(log_dir)
    conf.update({"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false"})
    py4j = _count_py4j()

    from pyspark.sql import functions as F

    from edlib_spark.driver_contract import registry
    from edlib_spark.operators.canonicalize import canonicalize
    from edlib_spark.operators.pairs import candidate_pairs
    from edlib_spark.operators.scoring import match_edges, score_pairs
    from edlib_spark.plans.linkage import (LinkageConfig, build_blocks,
                                           link_pairs, run_linkage)
    from edlib_spark.session import get_spark
    from edlib_spark.sources.transcripts import SCALES, synth_transcripts

    spark = get_spark("pass-probe", master="local[4]", **conf)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    cfg = LinkageConfig(use_minhash=args.mode.endswith("-minhash"))
    out = {"mode": args.mode, "use_minhash": cfg.use_minhash,
           "query": args.query}
    if args.mode == "contract":
        query_fn = {q.name: q.spark_fn for q in registry()}[args.query]
    try:
        if args.mode != "contract":
            size = ((500, 4) if args.mode.startswith("link")
                    else SCALES["medium"])
            seed = 1 if args.mode.startswith("link") else 42
            path = os.path.join(tmp, "transcripts.parquet")
            synth_transcripts(spark, *size, seed=seed).write.parquet(path)
            transcripts = spark.read.parquet(path)
            transcripts.count()

        def one_pass():
            if args.mode == "contract":
                return query_fn(spark, args.sf_dir).count()
            return run_linkage(transcripts, cfg)["clusters"].count()

        c0 = py4j[0]
        for i in range(100):
            F.col(f"x{i}")
        out["py4j_per_F_col"] = (py4j[0] - c0) / 100

        passes = []
        for i in range(2 + args.passes):
            group = f"pass{i}"
            sc.setJobGroup(group, group)
            c0, t0 = py4j[0], time.perf_counter()
            one_pass()
            row = {"group": group, "wall_s": time.perf_counter() - t0,
                   "py4j": py4j[0] - c0}
            if args.mode != "contract":
                # construction only: no action and no pin, so not
                # link_pairs (a lazy localCheckpoint over an AQE plan with
                # an exchange runs that exchange's map stages at the call)
                sc.setJobGroup(f"build{i}", "build")
                c0, t0 = py4j[0], time.perf_counter()
                canon = canonicalize(transcripts)
                match_edges(score_pairs(candidate_pairs(
                    build_blocks(canon, cfg)), canon, cfg.tau), cfg.tau)
                row["build_ms"] = (time.perf_counter() - t0) * 1e3
                row["build_py4j"] = py4j[0] - c0
            passes.append(row)

        sc.setJobGroup("query", "query")
        if args.mode == "contract":
            query = query_fn(spark, args.sf_dir)
        else:
            front = link_pairs(transcripts, cfg)
            query = score_pairs(front["pairs"], front["canonical"],
                                cfg.tau, cfg.mode)
        out["query_rows"] = len(query.collect())
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            query.explain("simple")
        final = buf.getvalue().split("+- == Initial Plan ==")[0]
        out["shuffle_query_stages"] = len(
            re.findall(r"ShuffleQueryStage \d+", final))
        out["broadcast_query_stages"] = len(
            re.findall(r"BroadcastQueryStage \d+", final))
        out["final_plan"] = final
    finally:
        stop_spark(spark)

    log = _event_log(log_dir, "query")
    for row in passes:
        row.update(log["groups"].get(row["group"], {}))
    out["passes"] = passes[2:]
    timed = out["passes"]
    out["median"] = {k: statistics.median(r[k] for r in timed)
                     for k in timed[0] if k != "group"}
    out["query_exchange_bytes"] = log["exchanges"]
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
