"""Candidate-pair generation: salted self-join on block keys.

The self equi-join on block_key is where skew bites: block sizes follow
text-length / signature frequency distributions and a single hot key of
m members yields m^2/2 pairs in one task.  Skew is handled explicitly
(north rule) by *triangular salting*: members of a hot block are hashed
into g groups; a member in group x is replicated as join-left for salt
cells (x, x..g-1) and as join-right for salt cells (0..x, x), so every
unordered pair meets in exactly one (block_key, s1, s2) cell and the
block's quadratic work is spread over g*(g+1)/2 independent cells.
AQE skew-join splitting remains enabled on top as the runtime net.

The dedupe runs on the scorer's partitioning: ``by_pair`` hashes
(id_a, id_b) into ``defaultParallelism`` partitions, the dedupe is then
partition-local, and ``scoring.attach_texts`` repeats the same
``by_pair`` call, which Spark satisfies with the existing exchange.  So
candidate pairs reach the text attach after ONE skinny shuffle.  There
is no map-side partial dedupe before it; instead the join emits each
pair once per shared block key (not once per order), so callers that
shuffle the pairs again on their own keys (``dedup.py``'s gram join,
the contract's multi-rule union) ship fewer pair bytes than a
partial-dedupe exchange did (BENCH/LINK_PASS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def by_pair(pairs: DataFrame) -> DataFrame:
    """``pairs`` hash-partitioned on (id_a, id_b) into the session's
    defaultParallelism partitions: the one partitioning the pair dedupe
    and the scorer share.  The skinny pair shuffle is a few bytes a row,
    so AQE would otherwise coalesce it (and the scorer behind it) into a
    single task; an explicit partition count is never coalesced."""
    par = pairs.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(par, "id_a", "id_b")


def candidate_pairs(blocks: DataFrame, hot_block_threshold: int = 256,
                    salt_group_size: int = 128) -> DataFrame:
    """(id_a, id_b) with id_a < id_b, deduped across block keys and
    partitioned by :func:`by_pair`.

    ``blocks``: (conv_id, block_key).  Blocks with more than
    ``hot_block_threshold`` members are salted into groups of about
    ``salt_group_size`` members.
    """
    sizes = blocks.groupBy("block_key").agg(
        F.count(F.lit(1)).alias("block_size"))
    # block-size stats are tiny relative to members: broadcast
    annotated = blocks.join(F.broadcast(sizes), "block_key")

    n_groups = F.when(
        F.col("block_size") > hot_block_threshold,
        F.ceil(F.col("block_size") / F.lit(salt_group_size)).cast("int")
    ).otherwise(F.lit(1))
    member = annotated.select(
        "block_key", "conv_id",
        F.pmod(F.xxhash64("conv_id"), n_groups).cast("int").alias("grp"),
        n_groups.alias("n_groups"),
    )

    # left role: salt cells (grp, j) for j in [grp, n_groups)
    left = member.select(
        "block_key",
        F.col("conv_id").alias("id_a"),
        F.col("grp").alias("s1"),
        F.explode(F.sequence(F.col("grp"),
                             F.col("n_groups") - 1)).alias("s2"),
    )
    # right role: salt cells (i, grp) for i in [0, grp]
    right = member.select(
        "block_key",
        F.col("conv_id").alias("id_b"),
        F.explode(F.sequence(F.lit(0), F.col("grp"))).alias("s1"),
        F.col("grp").alias("s2"),
    )

    # A pair meets in exactly one salt cell: once, as (min_grp_member AS
    # left, max_grp_member AS right), when its groups differ, and in both
    # orders in the diagonal cell when they match.  Keeping one order
    # there emits each pair once per shared block key, which halves the
    # rows the dedupe shuffles; normalize to id_a < id_b and dedupe.
    pairs = (left.join(right, ["block_key", "s1", "s2"])
             .where((F.col("s1") < F.col("s2"))
                    | (F.col("id_a") < F.col("id_b")))
             .select(F.least("id_a", "id_b").alias("id_a"),
                     F.greatest("id_a", "id_b").alias("id_b")))
    return by_pair(pairs).dropDuplicates(["id_a", "id_b"])
