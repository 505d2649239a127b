"""Transitive clustering: large-star / small-star connected components.

Iterative alternation of the two star operations (Kiveris et al.,
"Connected Components in MapReduce and Beyond") over the match-edge set
until fixpoint.  Each iteration is two shuffles (groupBy u); lineage is
cut per iteration with localCheckpoint so long chains never build up —
Catalyst has no fixpoint operator, so the loop is driver-side but all
data movement stays distributed.

Cluster ids are the component-minimum conv_id (lexicographic min —
stable and deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to the
    minimum of N(u) ∪ {u}.

    Implemented as groupBy-min + join-back (both shuffles hash on u and
    are co-partitioned) instead of collect_set, so a giant component
    never materializes one huge array row.
    """
    sym = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")) \
        .unionByName(edges.select(F.col("id_b").alias("u"),
                                  F.col("id_a").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv")) \
        .select("u", F.least("mv", F.col("u")).alias("m"))
    out = (sym.join(mins, "u")
           .where(F.col("v") > F.col("u"))
           .select(F.col("v").alias("id_a"), F.col("m").alias("id_b")))
    return out.where(F.col("id_a") != F.col("id_b")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u over edges oriented high->low: connect all
    smaller-or-equal neighbors (and u itself) to the minimum neighbor."""
    oriented = edges.select(
        F.greatest("id_a", "id_b").alias("u"),
        F.least("id_a", "id_b").alias("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (oriented.join(mins, "u")
                 .select(F.col("v").alias("id_a"), F.col("m").alias("id_b")))
    self_edges = mins.select(F.col("u").alias("id_a"),
                             F.col("m").alias("id_b"))
    out = nbr_edges.unionByName(self_edges)
    return out.where(F.col("id_a") != F.col("id_b")).distinct()


def _edge_fingerprint(edges: DataFrame):
    """Order-insensitive, overflow-free content fingerprint of the edge
    set (count + xor of row hashes) for fixpoint detection."""
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(id_a, id_b))").alias("h")).collect()[0]
    return row["n"], row["h"]


# Endgame bound for the hybrid fixpoint: once the (exactly measured)
# surviving edge count is at or below this, the component structure
# fits trivially on the driver (~200k edges x ~40 B of string ids
# ≈ 8 MB) and the remaining iterations are replaced by one union-find.
# The star passes shrink the edge set geometrically, so at any scale
# the distributed loop runs only until it crosses this bound — what it
# saves is the long sequential tail of near-empty Spark jobs, which
# dominates wall time on small graphs and is pure scheduling overhead
# at every scale.
DRIVER_CC_MAX_EDGES = 200_000
# Cap on the distributed star passes before the assignment is read off
# the current edge set; each pass shrinks the edge set geometrically.
CC_MAX_ITERATIONS = 25


def _finish_on_driver(edges: DataFrame) -> DataFrame:
    """Union-find over a SMALL edge set (bounded by the caller via the
    measured fingerprint count — this is not an unbounded collect).
    Output contract is identical to the distributed fixpoint:
    (conv_id, cluster_id) for every node in the edges, cluster_id = min
    id of the component.  Python's str ordering is codepoint order ==
    UTF-8 byte order == Spark's string ordering, so the min matches
    exactly for string ids as well as numeric ones."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    id_type = edges.schema["id_a"].dataType
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    nodes: set = set()
    for row in edges.collect():
        a, b = row[0], row[1]
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # min id per component is the cluster id (same for either id type)
    comp_min: dict = {}
    for n in nodes:
        r = find(n)
        m = comp_min.get(r)
        comp_min[r] = n if m is None or n < m else m
    out_schema = StructType([StructField("conv_id", id_type),
                             StructField("cluster_id", id_type)])
    assign = pd.DataFrame({"conv_id": list(nodes)})
    assign["cluster_id"] = [comp_min[find(n)] for n in assign["conv_id"]]
    # a pandas frame goes through Arrow into a JVM-side relation; a list
    # of tuples would become a PythonRDD job on Python workers
    return spark.createDataFrame(assign, out_schema)


def connected_components(edges: DataFrame,
                         driver_finish_max_edges: int = DRIVER_CC_MAX_EDGES)\
        -> DataFrame:
    """(conv_id, cluster_id) for every node appearing in ``edges``;
    cluster_id = min conv_id of the component.

    Hybrid fixpoint: distributed large-star/small-star passes while the
    edge set is big, one driver union-find once the measured count
    crosses ``driver_finish_max_edges`` (the fingerprint action already
    computes the exact count, so the gate costs nothing).  Both paths
    produce identical assignments; set ``driver_finish_max_edges=0`` to
    force the fully-distributed loop."""
    spark = edges.sparkSession
    default_par = spark.sparkContext.defaultParallelism
    current = edges.select("id_a", "id_b").localCheckpoint(eager=False)
    # materialize + fingerprint in one job; its exact count doubles as
    # the empty-input check, the driver-finish gate, and the partition
    # right-sizing input — no separate isEmpty() action
    prev_fp = _edge_fingerprint(current)
    if prev_fp[0] == 0:
        return _finish_on_driver(current)  # empty, schema-typed result
    for _ in range(CC_MAX_ITERATIONS):
        if prev_fp[0] <= driver_finish_max_edges:
            return _finish_on_driver(current)
        # ONE driver-synchronous job per (large-star . small-star) pass:
        # the two star ops compose lazily into a LAZY localCheckpoint,
        # and the fingerprint aggregate is the action that materializes
        # it — checkpoint blocks persist as that job computes them, so
        # fixpoint detection costs no extra pass over the edges.
        #
        # Partitioning is right-sized from the PREVIOUS iteration's edge
        # count (~100k edges/partition): the edge set is orders of
        # magnitude smaller than the corpus and shrinks toward the
        # fixpoint, and a checkpointed RDD's partitioning is pinned for
        # every downstream map stage — without this, late tiny
        # iterations pay full-width task scheduling per pass.
        p = int(min(default_par, max(4, prev_fp[0] // 100_000)))
        current = _small_star(_large_star(current)).coalesce(p) \
            .localCheckpoint(eager=False)
        fp = _edge_fingerprint(current)
        if fp == prev_fp:
            break
        prev_fp = fp

    # at fixpoint every edge points node -> component root
    members = current.select(F.col("id_a").alias("conv_id"),
                             F.col("id_b").alias("cluster_id"))
    roots = current.select(F.col("id_b").alias("conv_id"),
                           F.col("id_b").alias("cluster_id")).distinct()
    return members.unionByName(roots).dropDuplicates(["conv_id"])


def merge_edges_into_clusters(assignments: DataFrame,
                              new_edges: DataFrame) -> DataFrame:
    """Incremental CC: fold a DELTA edge set into existing cluster
    assignments without recomputing components from scratch.

    The daily-delta consolidation a continuously-ingesting deployment
    needs: new edges are projected onto current cluster representatives
    (endpoint -> its cluster_id, unknown endpoints -> themselves), the
    tiny rep-graph runs through the same large-star/small-star fixpoint,
    and the resulting rep relabeling joins back onto the full
    assignment.  Cost scales with the DELTA (touched reps + new nodes),
    not the corpus.  The min-id invariant is preserved: each rep is
    already the min of its old cluster, so the min over merged reps is
    the min over all merged members — identical output to a full-batch
    recompute over old+new edges (unit-tested equivalence).

    ``assignments``: (conv_id, cluster_id) complete current assignment.
    ``new_edges``: (id_a, id_b) delta.
    Returns the updated complete (conv_id, cluster_id) assignment.
    """
    ends = (new_edges.select(F.col("id_a").alias("conv_id"))
            .unionByName(new_edges.select(F.col("id_b").alias("conv_id")))
            .distinct())
    rep_of = (ends.join(assignments, "conv_id", "left")
              .select("conv_id",
                      F.coalesce("cluster_id", "conv_id").alias("rep")))
    rep_edges = (new_edges
                 .join(rep_of.select(F.col("conv_id").alias("id_a"),
                                     F.col("rep").alias("ra")), "id_a")
                 .join(rep_of.select(F.col("conv_id").alias("id_b"),
                                     F.col("rep").alias("rb")), "id_b")
                 .select(F.col("ra").alias("id_a"),
                         F.col("rb").alias("id_b"))
                 .where(F.col("id_a") != F.col("id_b")))
    comps = connected_components(rep_edges)  # rep -> merged root

    relabel = comps.select(F.col("conv_id").alias("cluster_id"),
                           F.col("cluster_id").alias("new_id"))
    updated = (assignments.join(relabel, "cluster_id", "left")
               .select("conv_id",
                       F.coalesce("new_id", "cluster_id")
                       .alias("cluster_id")))
    fresh = (rep_of.join(assignments.select("conv_id"), "conv_id",
                         "left_anti")
             .join(comps, "conv_id", "left")
             .select("conv_id",
                     F.coalesce("cluster_id", "conv_id")
                     .alias("cluster_id")))
    return updated.unionByName(fresh)


def cluster_assignments(all_nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Full assignment (conv_id, cluster_id): connected components of the
    match edges plus singletons for unmatched conversations.

    ``all_nodes``: DataFrame with a conv_id column.
    """
    comps = connected_components(edges)
    return (all_nodes.select("conv_id")
            .join(comps, "conv_id", "left")
            .select("conv_id",
                    F.coalesce("cluster_id", "conv_id").alias("cluster_id")))
