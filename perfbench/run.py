"""edlib-spark benchmark: one workload, one run.

    python3 perfbench/run.py --workload link --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout.  Starts Spark on local[nproc]
in this process, generates the workload's inputs from ``--seed`` into a
temp dir under ``.perfbench_work/``, warms up, then runs passes back to
back (closed loop, one client) until ``--seconds`` of pass time are
spent.  Every pass's output is checked.  The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer metrics of
``trace.py`` with ``--trace 1``.  The line before it is the run's full
record (input sizes, per-pass walls, host ceiling stamp).  See
perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MB = 1 << 20


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["link", "align"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def hermetic_env(tmp: str) -> dict:
    """Keep every file the run writes inside the checkout, and put the
    package on the Python workers' path.  Must run before Spark or the
    native kernel is imported."""
    home = os.path.join(WORK, "home")   # native kernel's compile cache
    os.makedirs(home, exist_ok=True)
    os.environ.update({
        "HOME": home, "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext

    from perfbench.procs import descendants, wait_gone

    gateway = SparkContext._gateway
    spark.stop()
    children = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any failure: kill and reap
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    wait_gone(children)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "edlib_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no edlib_spark source tree at {ROOT}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(
        WORK, "tmp"))
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, tmp: str) -> int:
    conf = hermetic_env(tmp)
    sys.path.insert(0, ROOT)
    t_build = time.perf_counter()
    import edlib_spark._native  # noqa: F401 — compiles on first use
    build_s = time.perf_counter() - t_build

    import bench
    from edlib_spark.session import get_spark
    from perfbench import trace
    from perfbench.procs import RssSampler
    from perfbench.workloads import SIZES, WARMUP, WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    log_dir = os.path.join(tmp, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    wl = WORKLOADS[args.workload]()
    passes: list[dict] = []

    def one_pass(rss=None) -> None:
        """Run, time and check one pass.  With ``rss``, also record the
        pass's peak resident set."""
        if rss is not None:
            rss.take()
        t0 = time.perf_counter()
        try:
            items = wl.run_pass()
            wall = time.perf_counter() - t0
            ok = wl.check()
        except Exception as exc:  # noqa: BLE001 — a failed pass is counted
            print(f"perfbench: pass failed: {exc!r}", file=sys.stderr)
            wall, items, ok = time.perf_counter() - t0, 0, False
        passes.append({"wall_s": wall, "items": items, "ok": ok,
                       "rss_mb": rss.take() / MB if rss else None})

    t_setup = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc}]", **conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_setup
        t_gen = time.perf_counter()
        inputs = wl.prepare(spark, args.seed, tmp, SIZES[wl.name][args.size])
        gen_s = time.perf_counter() - t_gen
        for _ in range(WARMUP[wl.name]):
            one_pass()
        setup_s = time.perf_counter() - t_setup
        warm = len(passes)

        with RssSampler() as rss:
            spent = 0.0
            while spent < args.seconds or len(passes) == warm:
                one_pass(rss)
                spent += passes[-1]["wall_s"]
        timed = passes[warm:]
        final_check = getattr(wl, "final_check", None)
        if final_check is not None and not final_check():
            timed[-1]["ok"] = False
        inputs.update(getattr(wl, "info", {}))

        if args.trace:
            tracer = trace.Tracer(spark)
            base = trace.traced_pass(wl, spark, tracer,
                                     os.path.join(tmp, "catalog"))
            base.update({"session.start_s": session_s,
                         "transcripts.gen_s": gen_s,
                         "trace.plain_pass_s": statistics.median(
                             p["wall_s"] for p in timed)})
            # the stamp costs ~7 s, more than untraced runs can spare
            ceiling = bench.host_cpu_ceiling(nproc)
    finally:
        stop_spark(spark)

    ok_passes = [p for p in timed if p["ok"]]
    failed = len(timed) - len(ok_passes)
    if args.trace:
        metrics = trace.layer_metrics(base, trace.fold_event_log(log_dir))
        out = {k: {"value": v, "unit": trace.unit_of(k)}
               for k, v in metrics.items()}
        spans_path = os.path.join(
            WORK, "traces", f"{wl.name}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as fh:
            json.dump(tracer.spans, fh)
    else:
        rates = [p["items"] / p["wall_s"] for p in ok_passes] or [0.0]
        out = {
            "items_per_s": {"value": statistics.median(rates), "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": statistics.median(
                p["rss_mb"] for p in timed), "unit": "MB"},
            "ok_ratio": {"value": len(ok_passes) / len(timed),
                         "unit": "ratio"},
        }
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "size": args.size, "nproc": nproc, "inputs": inputs,
        "unit": wl.unit, "build_s": build_s, "session_s": session_s,
        "gen_s": gen_s, "setup_s": setup_s,
        "warmup_walls_s": [p["wall_s"] for p in passes[:warm]],
        "pass_walls_s": [p["wall_s"] for p in timed],
        "pass_peak_rss_mb": [p["rss_mb"] for p in timed],
        "failed_ratio": failed / len(timed),
        "f1": getattr(wl, "f1", None),
        "host_ceiling_units_per_s": ceiling if args.trace else None,
    }
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": len(timed),
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
