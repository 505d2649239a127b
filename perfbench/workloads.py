"""The benchmark's workloads: seeded inputs, one timed pass, checks.

Every workload is a closed loop with one client: ``run_pass`` runs one
pass to completion and returns the number of input items it covered;
the caller times it and then calls ``check``, which returns False when
that pass's output is wrong.  ``final_check``, where present, compares
a seeded sample of the last pass against the exact single-pair kernel.
Inputs come from ``synth_transcripts`` plus the seeded generators
below, and are written to the run's temp dir; the engine sees only the
generated tables.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from edlib_spark import kernel
from edlib_spark.functions.alignment import align_expr
from edlib_spark.operators.canonicalize import canonicalize
from edlib_spark.plans.linkage import LinkageConfig, run_linkage
from edlib_spark.sources.transcripts import synth_transcripts

# Emoji block U+1F600-U+1F63F: outside the BMP, so these pairs take the
# numpy fallback scan instead of the native one.
EMOJI_BASE, EMOJI_SPAN = 0x1F600, 64

# workload -> size name -> generator parameter.  "full" is what the
# benchmark measures; "tiny" is for the smoke test.  Sized so that a
# pass takes 2-3 s and one run (JVM start, inputs, warm-up, a 20 s
# timed window, checks) takes 50-65 s on a 4-core host.
SIZES = {
    "link": {"full": 500, "tiny": 20},       # transcript clusters
    "align": {"full": 900, "tiny": 20},      # transcript clusters
}
# Passes run before timing starts; cold passes pay JIT, codegen and
# Python worker start-up.
WARMUP = {"link": 2, "align": 2}
# partitions of the align input table (4 tasks per core on 4 cores)
PARTITIONS = 16


def _sample(df, seed: int, n: int):
    """Deterministic per-seed sample of ``n`` rows of a pair table."""
    return df.orderBy(F.xxhash64("id_a", "id_b", F.lit(seed))).limit(n)


class Link:
    """``run_linkage`` end to end through ``clusters.count()``."""
    name, unit = "link", "turns"

    def prepare(self, spark, seed, tmp, size):
        path = os.path.join(tmp, "transcripts.parquet")
        synth_transcripts(spark, size, 4, seed=seed).write.parquet(path)
        self.transcripts = spark.read.parquet(path)
        self.turns = self.transcripts.count()
        self.first_edges = None
        return {"turns": self.turns}

    def run_pass(self):
        self.stages = run_linkage(self.transcripts, LinkageConfig())
        self.stages["clusters"].count()
        return self.turns

    def check(self):
        rows = self.stages["clusters"].collect()
        edges = self.stages["edges"].count()
        if self.first_edges is None:
            self.first_edges = edges
            self.info = {"convs": len(rows), "edges": edges,
                         "candidate_pairs": self.stages["pairs"].count()}
        self.f1 = pairwise_f1([(r["conv_id"], r["cluster_id"])
                               for r in rows])
        return self.f1 == 1.0 and edges == self.first_edges


def pairwise_f1(assignment) -> float:
    """Pairwise F1 of (conv_id, cluster_id) against the truth planted in
    conv_id (``c{cluster}_{variant}``)."""
    def pairs(counter):
        return sum(c * (c - 1) // 2 for c in counter.values())
    pred = Counter(c for _, c in assignment)
    truth = Counter(i.split("_")[0] for i, _ in assignment)
    both = Counter((c, i.split("_")[0]) for i, c in assignment)
    p_pairs, t_pairs, b_pairs = pairs(pred), pairs(truth), pairs(both)
    precision = b_pairs / p_pairs if p_pairs else 1.0
    recall = b_pairs / t_pairs if t_pairs else 1.0
    return (2 * precision * recall / (precision + recall)
            if precision + recall else 0.0)


def _emojify(text: str, rng) -> str:
    """Replace about 1 in 50 characters with an emoji."""
    chars = list(text)
    for i in np.flatnonzero(rng.random(len(chars)) < 0.02):
        chars[i] = chr(EMOJI_BASE + int(rng.integers(EMOJI_SPAN)))
    return "".join(chars)


def _xid_count(cigar):
    """Sum of the X, I and D run lengths of an extended CIGAR column."""
    runs = F.regexp_extract_all(cigar, F.lit(r"(\d+)[XID]"), F.lit(1))
    return F.aggregate(runs, F.lit(0),
                       lambda acc, x: acc + x.cast("int"))


class Align:
    """``align_expr(task='path')``, unbounded k, over within-cluster
    variant pairs; about one cluster in ten carries non-BMP text."""
    name, unit = "align", "alignments"

    def prepare(self, spark, seed, tmp, size):
        canon = canonicalize(synth_transcripts(spark, size, 4, seed=seed)) \
            .select("conv_id", "full_text").toPandas()
        rng = np.random.default_rng(seed)
        canon["cluster"] = canon["conv_id"].str.split("_").str[0]
        groups = [(list(g["conv_id"]), list(g["full_text"]))
                  for _, g in canon.sort_values("conv_id").groupby("cluster")]
        n_pairs = [len(ids) * (len(ids) - 1) // 2 for ids, _ in groups]
        # emoji clusters, in seeded order, until they hold a tenth of the
        # pairs: about 1 in 10 clusters, with the non-BMP pair share fixed
        # (the numpy fallback's cost follows that share)
        emoji, held = set(), 0
        for g in rng.permutation(len(groups)):
            if held >= sum(n_pairs) // 10:
                break
            emoji.add(int(g))
            held += n_pairs[g]
        rows = []
        for g, (ids, texts) in enumerate(groups):
            if g in emoji:
                texts = [_emojify(t, rng) for t in texts]
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    rows.append((ids[i], ids[j], texts[i], texts[j]))
        pdf = pd.DataFrame(rows, columns=["id_a", "id_b", "text_a",
                                          "text_b"])
        path = os.path.join(tmp, "variant_pairs.parquet")
        # many small tasks, so one slow core does not set the pass time
        spark.createDataFrame(pdf).repartition(PARTITIONS).write.parquet(path)
        self.seed = seed
        self.pairs = spark.read.parquet(path)
        self.n = len(pdf)
        self.checksum = None
        non_bmp = sum(max(map(ord, a + b)) > 0xFFFF
                      for _, _, a, b in rows)
        return {"convs": len(canon), "variant_pairs": self.n,
                "non_bmp_share": non_bmp / self.n}

    def aligned(self, df):
        return df.withColumn("r", align_expr(
            F.col("text_a"), F.col("text_b"), "NW", "path"))

    def run_pass(self):
        r = F.col("r")
        row = self.aligned(self.pairs).agg(
            F.count(F.lit(1)), F.sum(r.editDistance),
            F.sum(F.length(r.cigar)),
            F.sum((_xid_count(r.cigar) != r.editDistance).cast("int")),
        ).collect()[0]
        self.last = tuple(row)
        return self.n

    def check(self):
        if self.checksum is None:
            self.checksum = self.last
        return (self.last == self.checksum and self.last[0] == self.n
                and self.last[3] == 0)

    def final_check(self):
        """Sampled CIGARs against the exact single-pair kernel."""
        rows = (self.aligned(_sample(self.pairs, self.seed, 6))
                .select("text_a", "text_b", "r.editDistance", "r.cigar")
                .collect())
        for r in rows:
            ref = kernel.align(r["text_a"], r["text_b"], "NW", "path",
                               max_alphabet=None)
            if (ref["editDistance"], ref["cigar"]) != (r["editDistance"],
                                                       r["cigar"]):
                return False
        return bool(rows)


WORKLOADS = {w.name: w for w in (Link, Align)}

