"""Pipeline-scale benchmark: the full linkage dataflow (canonicalize ->
block -> salted pairs -> batched Myers scoring -> threshold -> CC) on
the medium synthetic corpus, reporting wall time per stage and pairwise
F1 against the planted ground truth.  Writes BENCH/PIPELINE.md.

Usage: python tools/pipeline_bench.py [scale]   (default: medium)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from bench import host_cpu_ceiling
    from edlib_spark.plans.linkage import measure_linkage
    from edlib_spark.session import get_spark

    scale = sys.argv[1] if len(sys.argv) > 1 else "medium"
    # host-silicon samples BRACKET the run (pre + post): a single
    # end-of-run sample mis-stamps a run whose silicon recovered (or
    # collapsed) mid-way — observed: a 448s run stamped 15.6 units/s
    # by its post-run sample after executing almost entirely at ~6
    pre = host_cpu_ceiling(32)
    spark = get_spark("pipeline-bench", master="local[32]",
                      shuffle_partitions=64)
    res = measure_linkage(spark, scale)
    n_turns, n_convs = res["turns"], res["convs"]
    total, counts, m = res["wall_sec"], res["counts"], res["metrics"]
    spark.stop()
    post = host_cpu_ceiling(32)

    rows = "\n".join(f"| {name} | {n:,} |" for name, n in counts.items())
    md = f"""# BENCH — full linkage pipeline at '{scale}' scale

{n_turns:,} transcript turns / {n_convs:,} conversations, local[32].
End-to-end wall (canonicalize -> block -> salted pairs -> batched
Myers scoring of every candidate pair -> threshold -> CC fixpoint):
**{total:.1f} s**.

| stage | rows |
|---|---|
{rows}

**Pairwise quality vs planted ground truth** (clusters are mutated
variants of base conversations, mutation rate 1-12% per char):
precision {m['precision']:.4f}, recall {m['recall']:.4f},
**F1 {m['f1']:.4f}** (target >= 0.99; {int(m['true_pairs']):,} true
pairs, {int(m['common_pairs']):,} recovered).

Host silicon bracketing the run (Spark-free raw-CPU units/s at 32
procs, sampled before and after — samples have ranged 3.1-15.6 across
rounds; normalize wall numbers by these before comparing across
runs): **pre {pre:.2f} / post {post:.2f}**.

Reproduce: `python tools/pipeline_bench.py {scale}`
"""
    name = "PIPELINE.md" if scale == "medium" else f"PIPELINE_{scale}.md"
    out_path = os.path.join(REPO, "BENCH", name)
    with open(out_path, "w") as fh:
        fh.write(md)
    print(md)


if __name__ == "__main__":
    main()
