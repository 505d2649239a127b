"""Driver-contract implementations: queries() + oracle_sql() bodies.

Each query here has BOTH a Spark implementation (DataFrame, reading
parquet from the given sf_dir) and an ANSI-SQL oracle DuckDB runs on
the same tables; ``registry()`` at the bottom is the one ordered table
of (name, family, Spark function, oracle SQL) that both
``build_queries()`` and ``build_oracle_sql()`` read.  Column names and
types are aligned exactly (the driver hashes values after sorting
columns by name), so every computed column is aliased identically on
both sides and integer outputs are cast to BIGINT.

The conversation-pipeline queries operate on a transcripts-shaped table
derived deterministically FROM the events table (conv per user, turns
ordered by (ts, event_id)) — the same derivation is expressed in SQL, so
the full canonicalize → block → pair → score → cluster chain is
SQL-checked.  The flagship synthetic-transcript queries read the
deterministic parquet produced by edlib_spark.sources.transcripts and
their oracles read the same files via read_parquet.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.alignment import align_expr, edit_distance
from .operators.blocking import minhash_blocks, sorted_neighborhood_pairs
from .operators.canonicalize import TURN_SEP, canonicalize
from .operators.clustering import cluster_assignments
from .operators.pairs import candidate_pairs
from .operators.scoring import score_pairs
from .sources.transcripts import (DATA_DIR, ensure_transcripts_parquet,
                                  transcripts_path)

# Several oracles (equality_align's upper()+levenshtein twin, the
# media_features per-character ord() histogram) are exact only when
# documents.text is pure ASCII: DuckDB's levenshtein/ord are byte-based
# while the kernel and the payload histogram count codepoints/UTF-8
# bytes.  The driver fixtures ARE ASCII; tests/test_fixture_invariants.py
# asserts this invariant so a non-ASCII fixture fails loudly instead of
# hash-diverging silently.
TAU = 0.2
# Looser threshold for the edge/cluster queries: event-derived
# conversations have min normalized distance ~0.33, so TAU=0.2 yields an
# empty (trivially matching) edge set; 0.36 produces real edges and
# exercises the CC fixpoint against the recursive SQL oracle.
TAU_EDGE = 0.36
BAND_W = 64  # fixed-width length band for the SQL-checked blocking query


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


# ---------------------------------------------------------------------------
# transcripts derived from events (identical derivation in SQL below)
# ---------------------------------------------------------------------------

def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string"))
         .alias("conv_id"),
        (F.row_number().over(w) - 1).cast("bigint").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(F.col("event_type"), F.lit(" "), F.col("props"))
         .alias("text")))


_SQL_TRANSCRIPTS = """
    SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) - 1 AS BIGINT)
               AS turn_idx,
           event_type AS role,
           event_type || ' ' || props AS text
    FROM events
"""


def canonical_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same values as canonicalize(transcripts_from_events(...)), but the
    # canonicalization groups by the RAW user_id (the window's partition
    # key) and prefixes 'u' only after the agg: grouping by the derived
    # concat key would force a second full text shuffle because
    # Catalyst cannot prove hashpartitioning(user_id) satisfies
    # hashpartitioning(concat('u', user_id)).  One text shuffle, not
    # two — at 100 TB that is the difference between moving the corpus
    # once or twice.
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("user_id").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("bigint").alias("turn_idx"),
        F.concat(F.col("event_type"), F.lit(" "), F.col("props"))
         .alias("text"))
    return (canonicalize(t)
            .select(F.concat(F.lit("u"), F.col("conv_id").cast("string"))
                    .alias("conv_id"),
                    "full_text",
                    F.col("n_turns").cast("bigint").alias("n_turns"),
                    F.col("text_len").cast("bigint").alias("text_len")))


_SQL_CANONICAL = f"""
    WITH t AS ({_SQL_TRANSCRIPTS})
    SELECT conv_id,
           string_agg(text, '{TURN_SEP}' ORDER BY turn_idx) AS full_text,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(length(string_agg(text, '{TURN_SEP}' ORDER BY turn_idx))
                AS BIGINT) AS text_len
    FROM t GROUP BY conv_id
"""


def _length_blocks_of(canon: DataFrame) -> DataFrame:
    band = F.floor(F.col("text_len") / F.lit(BAND_W))
    return (canon.select(
        "conv_id", F.explode(F.array(band, band + 1)).alias("band"))
        .select("conv_id",
                F.concat(F.lit("len:"), F.col("band").cast("string"))
                 .alias("block_key")))


def length_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _length_blocks_of(canonical_conversations(spark, sf_dir))


_SQL_LENGTH_BLOCKS = f"""
    WITH c AS ({_SQL_CANONICAL})
    SELECT conv_id,
           'len:' || CAST(CAST(floor(text_len / {BAND_W}) AS BIGINT)
                          AS VARCHAR) AS block_key FROM c
    UNION ALL
    SELECT conv_id,
           'len:' || CAST(CAST(floor(text_len / {BAND_W}) + 1 AS BIGINT)
                          AS VARCHAR) AS block_key FROM c
"""


def candidate_pairs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocks = length_blocks(spark, sf_dir)
    return candidate_pairs(blocks)


_SQL_PAIRS = f"""
    WITH b AS ({_SQL_LENGTH_BLOCKS})
    SELECT DISTINCT a.conv_id AS id_a, c.conv_id AS id_b
    FROM b a JOIN b c ON a.block_key = c.block_key
    WHERE a.conv_id < c.conv_id
"""


def _scored_of(canon: DataFrame, tau: float) -> DataFrame:
    """Scored pairs from an already-built (ideally pinned) canon —
    lets composite queries share one canonicalization instead of
    re-deriving it per branch (the sf0.01 driver gate tolerates the
    recompute; the bench-visible composites should not)."""
    scored = score_pairs(candidate_pairs(_length_blocks_of(canon)), canon,
                         tau)
    return scored.select(
        "id_a", "id_b",
        F.col("len_a").cast("bigint").alias("len_a"),
        F.col("len_b").cast("bigint").alias("len_b"),
        F.col("edit_distance").cast("bigint").alias("edit_distance"))


def scored_pairs_events(spark: SparkSession, sf_dir: str,
                        tau: float = TAU) -> DataFrame:
    # pin canon once: the blocks branch and both text-attach join sides
    # otherwise each re-derive the events window + groupBy (4 scans)
    canon = canonical_conversations(spark, sf_dir) \
        .localCheckpoint(eager=False)
    return _scored_of(canon, tau)


def _sql_scored(tau: float, stratum: str = "TRUE") -> str:
    """``stratum``: extra pair predicate (over p.id_a/p.id_b) applied
    BEFORE the levenshtein projection — tools/cross_scale_check.py uses
    a deterministic md5 stratum so the oracle's quadratic cost shrinks
    to the sampled fraction at sf0.1; the contract default is TRUE."""
    return f"""
    WITH c AS ({_SQL_CANONICAL}), p AS ({_SQL_PAIRS})
    SELECT p.id_a, p.id_b,
           CAST(a.text_len AS BIGINT) AS len_a,
           CAST(b.text_len AS BIGINT) AS len_b,
           CAST(CASE WHEN levenshtein(a.full_text, b.full_text)
                          <= CAST(ceil({tau} * greatest(a.text_len,
                                                        b.text_len)) AS INT)
                     THEN levenshtein(a.full_text, b.full_text)
                     ELSE -1 END AS BIGINT) AS edit_distance
    FROM p JOIN c a ON p.id_a = a.conv_id
           JOIN c b ON p.id_b = b.conv_id
    WHERE ({stratum})
      AND abs(a.text_len - b.text_len)
          <= CAST(ceil({tau} * greatest(a.text_len, b.text_len)) AS INT)
"""


def _edges_of(scored: DataFrame, tau: float) -> DataFrame:
    max_len = F.greatest("len_a", "len_b")
    return (scored
            .where((F.col("edit_distance") >= 0)
                   & (F.col("edit_distance") <= F.lit(tau) * max_len))
            .select("id_a", "id_b"))


def match_edges_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _edges_of(scored_pairs_events(spark, sf_dir, tau=TAU_EDGE),
                     TAU_EDGE)


def _sql_edges(stratum: str = "TRUE") -> str:
    return f"""
    WITH s AS ({_sql_scored(TAU_EDGE, stratum)})
    SELECT id_a, id_b FROM s
    WHERE edit_distance >= 0
      AND edit_distance <= {TAU_EDGE} * greatest(len_a, len_b)
"""


def clusters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin canon once: the naive composition re-derives the window +
    # groupBy canonicalization in every branch (blocks, both join
    # sides, the final assignment join) — 6 scans of events
    canon = canonical_conversations(spark, sf_dir) \
        .localCheckpoint(eager=False)
    edges = _edges_of(_scored_of(canon, TAU_EDGE), TAU_EDGE)
    return cluster_assignments(canon, edges)


def clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC consolidation: the match edges are split
    deterministically into a 'yesterday' batch (~80%) and a 'today'
    delta (~20%); clusters are built from the old batch, then the delta
    is folded in with operators.clustering.merge_edges_into_clusters —
    and the result must equal a full-batch recompute, so it reuses the
    clusters query's recursive-CTE oracle VERBATIM.  This is the
    periodic-delta consolidation path of a continuously-ingesting
    deployment (cost scales with the delta, not the corpus)."""
    from .operators.clustering import merge_edges_into_clusters
    canon = canonical_conversations(spark, sf_dir) \
        .localCheckpoint(eager=False)
    edges = _edges_of(_scored_of(canon, TAU_EDGE), TAU_EDGE) \
        .localCheckpoint(eager=False)
    is_new = F.pmod(F.xxhash64("id_a", "id_b"), F.lit(5)) == 0
    old_assign = cluster_assignments(canon, edges.where(~is_new))
    return (merge_edges_into_clusters(old_assign, edges.where(is_new))
            .select("conv_id", "cluster_id"))


def _sql_closure(edges: str) -> str:
    """The recursive connected-components CTEs shared by every
    cluster-chain oracle: ``e`` (the given id_a/id_b edge select),
    ``sym`` (its symmetric closure), ``reach`` (node -> every label
    reachable from it) and ``comp`` (node -> min reachable label).
    The caller opens ``WITH RECURSIVE`` and LEFT JOINs its node table
    to comp with coalesce(comp.root, node), which makes a node in no
    edge its own cluster.  Internal aliases (sy, rc) stay clear of the
    callers' CTE names."""
    return f"""e AS ({edges}),
    sym AS (SELECT id_a AS u, id_b AS v FROM e
            UNION SELECT id_b, id_a FROM e),
    reach AS (
        SELECT u AS node, u AS lab FROM (SELECT DISTINCT u FROM sym)
        UNION
        SELECT sy.u AS node, rc.lab AS lab
        FROM sym sy JOIN reach rc ON sy.v = rc.node),
    comp AS (SELECT node, min(lab) AS root FROM reach GROUP BY node)"""


def _sql_clusters(edges_sql: str | None = None) -> str:
    """``edges_sql``: alternative edge source for the recursive
    closure.  The contract default re-derives edges exhaustively
    (quadratic levenshtein — gate-scale); tools/cross_scale_check.py
    passes a read_parquet() over Spark-written edges (themselves
    stratum-verified) so the CLOSURE computation is still independently
    re-derived at sf0.1 where the exhaustive oracle is infeasible."""
    return f"""
    WITH RECURSIVE {_sql_closure(edges_sql or _sql_edges())},
    c AS ({_SQL_CANONICAL})
    SELECT c.conv_id, coalesce(comp.root, c.conv_id) AS cluster_id
    FROM c LEFT JOIN comp ON c.conv_id = comp.node
"""


# ---------------------------------------------------------------------------
# customer / documents single-operator queries
# ---------------------------------------------------------------------------

def _adjacent_pairs(rows: DataFrame, a: Column, b: Column,
                    id_col: str = "doc_id") -> DataFrame:
    """Each row paired with the row whose id is one higher: (id_a,
    id_b, text_a, text_b) with BIGINT ids, text_a = ``a`` of the lower
    row and text_b = ``b`` of the higher one — the Spark twin of the
    oracles' ``JOIN ... ON b.doc_id = a.doc_id + 1``."""
    left = rows.select(F.col(id_col).alias("id_a"), a.alias("text_a"))
    right = rows.select((F.col(id_col) - 1).alias("id_a"),
                        F.col(id_col).alias("id_b"), b.alias("text_b"))
    return left.join(right, "id_a").select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"), "text_a", "text_b")


def _distance_of(pairs: DataFrame, mode: str, k: int = -1,
                 extra: tuple = (), **kw) -> DataFrame:
    """(id_a, id_b, *extra, edit_distance BIGINT) of text_a vs text_b."""
    return pairs.select(
        "id_a", "id_b", *extra,
        edit_distance(F.col("text_a"), F.col("text_b"), mode, k, **kw)
        .cast("bigint").alias("edit_distance"))


def nw_distance_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    name = F.col("c_name")
    return _distance_of(_adjacent_pairs(cust, name, name, "c_custkey"),
                        "NW")


_SQL_NW_CUSTOMER = """
    SELECT CAST(a.c_custkey AS BIGINT) AS id_a,
           CAST(b.c_custkey AS BIGINT) AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance
    FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
"""


def _doc_pairs(spark: SparkSession, sf_dir: str, a: Column | None = None,
               b: Column | None = None) -> DataFrame:
    """Adjacent document pairs; ``a``/``b`` default to the full text."""
    text = F.col("text")
    return _adjacent_pairs(_read(spark, sf_dir, "documents"),
                           text if a is None else a,
                           text if b is None else b)


def nw_distance_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _distance_of(_doc_pairs(spark, sf_dir), "NW")


_SQL_NW_DOCUMENTS = """
    SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(b.doc_id AS BIGINT) AS id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


def nw_distance_documents_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-bounded variant: the reference's -k discard contract
    (apps/aligner/aligner.cpp:41,71-72,170): -1 where distance > k."""
    return _distance_of(_doc_pairs(spark, sf_dir), "NW", 100)


_SQL_NW_DOCUMENTS_K = """
    SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(b.doc_id AS BIGINT) AS id_b,
           -- empty inputs bypass the k bound (reference
           -- edlib.cpp:165-184 short-circuits before any k logic)
           CAST(CASE WHEN length(a.text) = 0 OR length(b.text) = 0
                          OR levenshtein(a.text, b.text) <= 100
                     THEN levenshtein(a.text, b.text) ELSE -1 END
                AS BIGINT) AS edit_distance
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return (docs.groupBy("text")
            .agg(F.min("doc_id").cast("bigint").alias("rep_id"),
                 F.count(F.lit(1)).cast("bigint").alias("dup_count"))
            .select("rep_id", "dup_count"))


_SQL_DOC_DEDUP = """
    SELECT CAST(min(doc_id) AS BIGINT) AS rep_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM documents GROUP BY text
"""


# SNM window of 8 records -> rank gap in [1, 7]
_SNM_WINDOW = 8


def _snm_prefix_key() -> Column:
    """The SNM sort key: text with spaces squeezed out, first 12
    chars, NULL coalesced to '' — snm_ranks' documented non-null
    precondition (Spark range-sorts NULLs first while DuckDB's
    row_number places them last, so an un-coalesced NULL text would
    silently diverge the ranks and every SNM-derived query)."""
    return F.substring(
        F.translate(F.coalesce(F.col("text"), F.lit("")), " ", ""),
        1, 12)


# The SQL twin of _snm_prefix_key plus the keyed/ranked/pairs CTE
# block shared by EVERY SNM-derived oracle (snm_pairs, the four FS
# oracles, multi_blocking): one source of truth for the key
# expression, the (pfx, doc_id) total order, and the window, so the
# derivation cannot drift between oracles.
_SNM_KEY_SQL = "substr(replace(coalesce(text, ''), ' ', ''), 1, 12)"


def _snm_ctes(attrs: bool = False) -> str:
    """Render the shared keyed/ranked/pairs CTEs.  ``attrs`` carries
    the FS comparison fields (lang, source, n_chars) through keyed for
    the flag derivations."""
    extra = ", lang, source, n_chars" if attrs else ""
    return f"""keyed AS (
        SELECT doc_id{extra}, {_SNM_KEY_SQL} AS pfx
        FROM documents
    ), ranked AS (
        SELECT doc_id, row_number() OVER (ORDER BY pfx, doc_id) AS rnk
        FROM keyed
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               b.rnk - a.rnk AS rank_gap
        FROM ranked a JOIN ranked b
          ON b.rnk > a.rnk AND b.rnk <= a.rnk + {_SNM_WINDOW - 1}
    )"""


def _snm_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, rank_gap) co-window pairs under the shared SNM key
    and window — the Spark twin of _snm_ctes' pairs CTE, used by every
    SNM-derived query."""
    keyed = docs.select(F.col("doc_id").alias("rec_id"),
                        _snm_prefix_key().alias("snm_key"))
    return sorted_neighborhood_pairs(keyed, key_col="snm_key",
                                     id_col="rec_id", window=_SNM_WINDOW)


def snm_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (the third classic ER blocking
    family next to key-equality blocks and LSH): sort documents by a
    domain key (text with spaces squeezed out, first 12 chars), slide
    a window of 8, emit co-window pairs.  Unlike key-equality blocks
    the output is exactly O(n * window) with no hot-block skew by
    construction; the rank is computed scale-safely (range partition +
    offset ranks, no single-partition window — operators/blocking.py
    snm_ranks)."""
    return (_snm_pairs(_read(spark, sf_dir, "documents"))
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"),
                    F.col("rank_gap").cast("bigint").alias("rank_gap")))


# The oracle re-derives the WHOLE operator independently: the same key,
# one ANSI row_number over the total order (fine single-node at oracle
# scale), and a rank-band self-join (the shared _snm_ctes block).
# Spark and DuckDB both compare strings bytewise (fixtures are ASCII
# anyway) and the (key, doc_id) order is total, so ranks agree exactly.
_SQL_SNM_PAIRS = f"""
    WITH {_snm_ctes()}
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(rank_gap AS BIGINT) AS rank_gap
    FROM pairs
"""


_FS_PARAMS_PATH = os.path.join(DATA_DIR, "fs_params_current.parquet")
_FS_N_FIELDS = 4
_FS_BAND = 64  # n_chars length-band width (field 2)
# The head every FS oracle opens with: the shared params side table
# as fsp, then the SNM keyed/ranked/pairs CTEs with the FS attributes.
_SQL_FS_HEAD = f"""fsp AS (SELECT field_id, m, u, lam
                 FROM read_parquet('{_FS_PARAMS_PATH}/*.parquet')),
    {_snm_ctes(attrs=True)}"""


def _fs_pairs_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNM candidate pairs (same key/window as snm_pairs_documents)
    joined to both sides' comparison fields, with the four FS
    agreement flags f0..f3 and the packed pattern.  Field order (the
    order EM, the posterior product, and the oracle all share):
    0 lang, 1 source, 2 length band (n_chars div 64), 3 key prefix."""
    from .operators.linkage import agreement_bits
    docs = _read(spark, sf_dir, "documents")
    pairs = _snm_pairs(docs)
    attrs = docs.select(
        "doc_id", "lang", "source",
        F.expr(f"n_chars div {_FS_BAND}").alias("band"),
        _snm_prefix_key().alias("pfx"))
    a = attrs.select(*[F.col(c).alias(c + "_a") for c in attrs.columns])
    b = attrs.select(*[F.col(c).alias(c + "_b") for c in attrs.columns])
    j = (pairs.join(a, pairs["id_a"] == a["doc_id_a"])
         .join(b, pairs["id_b"] == b["doc_id_b"]))
    flags = [F.col("lang_a").eqNullSafe(F.col("lang_b")),
             F.col("source_a").eqNullSafe(F.col("source_b")),
             F.col("band_a") == F.col("band_b"),
             F.col("pfx_a") == F.col("pfx_b")]
    return j.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        *[fl.alias(f"f{i}") for i, fl in enumerate(flags)],
        agreement_bits(flags).alias("pattern"),
        # carried for the term-frequency variant (value of the shared
        # category when the field agrees; side a is arbitrary-but-fixed)
        "lang_a", "source_a")


def _fs_fit(spark: SparkSession,
            sf_dir: str) -> tuple[DataFrame, float, list, list]:
    """(pf, lam, m, u): the SNM pair flags plus the EM params every FS
    query shares — trained once per sf_dir into the side table the
    oracles read, then collected in field order."""
    from .operators.linkage import fs_train
    pf = _fs_pairs_flags(spark, sf_dir)
    _ensure_side_table(sf_dir, _FS_PARAMS_PATH,
                       lambda: fs_train(pf, _FS_N_FIELDS))
    prm = sorted(spark.read.parquet(_FS_PARAMS_PATH).collect(),
                 key=lambda r: r["field_id"])
    return pf, prm[0]["lam"], [r["m"] for r in prm], [r["u"] for r in prm]


def _fs_posterior(lam: float, m: list, u: list, tf=None) -> Column:
    from .operators.linkage import fs_posterior_expr
    return fs_posterior_expr(
        [F.col(f"f{i}") for i in range(_FS_N_FIELDS)], lam, m, u, tf=tf)


def fs_match_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage over the SNM candidates:
    agreement patterns -> unsupervised EM (driver-side, over the
    <=2^4-row pattern histogram — the ONLY full pass over the pair
    stream is one map-side-combined groupBy) -> per-pair match
    posterior with the learned (lambda, m_i, u_i) inlined as literals
    (no join on the pair stream).  Params ride a side table; the
    oracle re-derives pairs, flags, pattern packing, and the
    left-to-right posterior product from those shared doubles.
    is_match thresholds the UNROUNDED posterior at 0.5."""
    pf, lam, m, u = _fs_fit(spark, sf_dir)
    post = _fs_posterior(lam, m, u)
    return pf.select(
        "id_a", "id_b", "pattern",
        F.round(post, 6).alias("posterior_r"),
        (post >= 0.5).cast("bigint").alias("is_match"))


def fs_tf_match_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency-adjusted Fellegi-Sunter (Winkler 1988; the
    adjustment Splink applies post-EM): same EM params as
    fs_match_documents, but when a categorical field AGREES its u-side
    factor becomes the shared value's corpus frequency — agreeing on a
    value carried by 1% of records is ~u/tf times stronger evidence
    than the EM average.  Applied to the two categorical fields (lang,
    source) via BROADCAST frequency tables (#distinct-values rows);
    a high-cardinality field would use the identical pattern with a
    shuffle equi-join on the value, the same shape as the attribute
    attach.  Band/prefix keep global u.  The oracle recomputes the
    frequencies from the corpus (bigint/bigint -> double on both
    engines) and the same ordered product."""
    pf, lam, m, u = _fs_fit(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    n = docs.count()
    lf = (docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
          .select(F.col("lang").alias("_lf_lang"),
                  (F.col("c") / F.lit(n)).alias("tf_lang")))
    sfq = (docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
           .select(F.col("source").alias("_sf_source"),
                   (F.col("c") / F.lit(n)).alias("tf_source")))
    joined = (pf.join(F.broadcast(lf),
                      F.col("lang_a").eqNullSafe(F.col("_lf_lang")))
              .join(F.broadcast(sfq),
                    F.col("source_a").eqNullSafe(F.col("_sf_source"))))
    post = _fs_posterior(lam, m, u,
                         tf=[F.col("tf_lang"), F.col("tf_source"), None, None])
    return joined.select(
        "id_a", "id_b", "pattern",
        F.round(post, 6).alias("posterior_tf_r"),
        (post >= 0.5).cast("bigint").alias("is_match"))


# FS oracles: pairs + flags re-derived exactly as _SQL_SNM_PAIRS (the
# shared _snm_ctes block — same key, same window) with the same
# attribute arithmetic; lambda/m/u come from the shared side table via
# scalar subqueries, and both probability products are parenthesized
# LEFT-TO-RIGHT in field order — the same IEEE evaluation order the
# Spark literals use, so the doubles match bit-for-bit before
# rounding.  The flag derivation and the per-pattern m/u products are
# rendered by ONE helper each (below) for all four FS oracles, so the
# exact silent-drift hazard the column contract warns about — a flag
# or product-order change applied to one copy — cannot occur.
def _fs_flags_cte(packed: bool, carry: str = "") -> str:
    """The flagged CTE over the shared pairs/keyed CTEs: the four FS
    agreement flags as booleans f0..f3 (match/TF/waterfall oracles)
    or packed directly into the pattern bigint (classify/queue)."""
    if packed:
        body = f"""CAST((CASE WHEN da.lang IS NOT DISTINCT FROM db.lang
                          THEN 1 ELSE 0 END)
                  + (CASE WHEN da.source IS NOT DISTINCT FROM db.source
                          THEN 2 ELSE 0 END)
                  + (CASE WHEN da.n_chars // {_FS_BAND}
                               = db.n_chars // {_FS_BAND}
                          THEN 4 ELSE 0 END)
                  + (CASE WHEN da.pfx = db.pfx THEN 8 ELSE 0 END)
                 AS BIGINT) AS pattern"""
    else:
        body = f"""(da.lang IS NOT DISTINCT FROM db.lang) AS f0,
               (da.source IS NOT DISTINCT FROM db.source) AS f1,
               (da.n_chars // {_FS_BAND} = db.n_chars // {_FS_BAND})
                   AS f2,
               (da.pfx = db.pfx) AS f3{carry}"""
    return f"""flagged AS (
        SELECT p.id_a, p.id_b,
               {body}
        FROM pairs p
        JOIN keyed da ON p.id_a = da.doc_id
        JOIN keyed db ON p.id_b = db.doc_id
    )"""


# pattern -> packed-bit select expression (the boolean-flag variant's
# final projection, shared by the match/TF and waterfall oracles)
_FS_PACK_SQL = """CAST((CASE WHEN f0 THEN 1 ELSE 0 END)
              + (CASE WHEN f1 THEN 2 ELSE 0 END)
              + (CASE WHEN f2 THEN 4 ELSE 0 END)
              + (CASE WHEN f3 THEN 8 ELSE 0 END) AS BIGINT)"""


def _fs_field_factors() -> tuple:
    """Per-field (m-factor, u-factor) CASE terms over a pattern
    literal ``pat`` — the single source for every pattern-space
    product (classify/queue mp/up and the queue's lam-weighted
    posterior)."""
    fms, fus = [], []
    for i in range(_FS_N_FIELDS):
        sel_m = f"(SELECT m FROM fsp WHERE field_id = {i})"
        sel_u = f"(SELECT u FROM fsp WHERE field_id = {i})"
        fms.append(f"CASE WHEN pat & {1 << i} <> 0 THEN {sel_m} "
                   f"ELSE 1 - {sel_m} END")
        fus.append(f"CASE WHEN pat & {1 << i} <> 0 THEN {sel_u} "
                   f"ELSE 1 - {sel_u} END")
    return fms, fus


def _fs_pattern_products() -> tuple:
    """(mp, up) expressions: the left-to-right products of the
    per-field m/u factors used by the classify and review-queue
    oracles' 16-row probs CTE."""
    mp_expr, up_expr = "", ""
    for i, (fm, fu) in enumerate(zip(*_fs_field_factors())):
        mp_expr = fm if i == 0 else f"({mp_expr} * {fm})"
        up_expr = fu if i == 0 else f"({up_expr} * {fu})"
    return mp_expr, up_expr


def _fs_flag_products(tf: bool) -> tuple[str, str]:
    """(pm, pu) — the left-to-right prior-times-field products over
    boolean flag columns f0..f3, the pair-space twin of
    _fs_pattern_products.  ONE definition shared by _sql_fs (match/TF
    posteriors) and the calibration oracle, so the IEEE product order
    cannot drift between them."""
    pm = "(SELECT lam FROM fsp WHERE field_id = 0)"
    pu = "(1 - (SELECT lam FROM fsp WHERE field_id = 0))"
    for i in range(_FS_N_FIELDS):
        sel_m = f"(SELECT m FROM fsp WHERE field_id = {i})"
        sel_u = f"(SELECT u FROM fsp WHERE field_id = {i})"
        agree_u = {0: "lf.tf", 1: "sfq.tf"}.get(i, sel_u) if tf \
            else sel_u
        pm = (f"({pm} * CASE WHEN f{i} THEN {sel_m} "
              f"ELSE 1 - {sel_m} END)")
        pu = (f"({pu} * CASE WHEN f{i} THEN {agree_u} "
              f"ELSE 1 - {sel_u} END)")
    return pm, pu


# ONE builder generates both the plain and the TF-adjusted variant so
# the SNM derivation, flag expressions, and product order cannot drift
# between them; the TF variant swaps the u-side factor on the two
# categorical fields for the shared value's recomputed corpus
# frequency and joins the frequency CTEs.
def _sql_fs(tf: bool) -> str:
    pm, pu = _fs_flag_products(tf)
    freq_ctes = f""", tot AS (SELECT count(*) AS n FROM documents),
    lfreq AS (SELECT lang, count(*) / (SELECT n FROM tot) AS tf
              FROM documents GROUP BY lang),
    sfreq AS (SELECT source, count(*) / (SELECT n FROM tot) AS tf
              FROM documents GROUP BY source)""" if tf else ""
    carry = ",\n               da.lang AS lang_a, da.source AS source_a" \
        if tf else ""
    src = """flagged fl
    JOIN lfreq lf ON lf.lang IS NOT DISTINCT FROM fl.lang_a
    JOIN sfreq sfq ON sfq.source IS NOT DISTINCT FROM fl.source_a""" \
        if tf else "flagged fl"
    post_col = "posterior_tf_r" if tf else "posterior_r"
    return f"""
    WITH {_SQL_FS_HEAD}{freq_ctes}, {_fs_flags_cte(False, carry)}
    SELECT CAST(fl.id_a AS BIGINT) AS id_a,
           CAST(fl.id_b AS BIGINT) AS id_b,
           {_FS_PACK_SQL} AS pattern,
           round({pm} / ({pm} + {pu}), 6) AS {post_col},
           CAST({pm} / ({pm} + {pu}) >= 0.5 AS BIGINT) AS is_match
    FROM {src}
"""


# FS error bounds for the three-way decision rule (mu = acceptable
# false-match rate over linked patterns, lam_err = acceptable
# false-non-match rate over non-linked patterns — the paper's (mu,
# lambda) operating point; the clerical band is whatever's left)
_FS_MU = 0.01
_FS_LAMERR = 0.05


def fs_classify_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter THREE-WAY decision rule (link / possible /
    non-link) over the same SNM candidates and EM params as
    fs_match_documents: patterns ordered by likelihood ratio, link
    while cumulative u-mass <= mu, non-link while cumulative m-mass
    <= lam_err, clerical-review band between (operators/linkage.py
    fs_decision_table — driver-side over the <=16-pattern table, same
    scale shape as EM itself).  The per-pair map is inlined as a
    pattern -> (ratio, decision) literal CASE chain: zero join or
    shuffle added to the pair stream, fully whole-stage-codegen.  The
    oracle re-derives the whole rule in SQL — pattern probabilities as
    the same left-to-right products, the ratio ordering, and the two
    windowed running error masses."""
    from .operators.linkage import fs_decision_table
    pf, _lam, m, u = _fs_fit(spark, sf_dir)
    table = fs_decision_table(m, u, _FS_N_FIELDS, _FS_MU, _FS_LAMERR)
    ratio, dec = None, None
    for pat, rt, d in table:
        cond = F.col("pattern") == pat
        ratio = (F.when(cond, F.lit(rt)) if ratio is None
                 else ratio.when(cond, F.lit(rt)))
        dec = (F.when(cond, F.lit(d)) if dec is None
               else dec.when(cond, F.lit(d)))
    return pf.select(
        "id_a", "id_b", "pattern",
        F.round(ratio, 6).alias("lr_ratio_r"),
        dec.cast("bigint").alias("decision"))


def _sql_fs_classify() -> str:
    """The decision rule re-derived end-to-end in SQL: same SNM
    pairs/flags CTEs as _sql_fs, per-pattern m/u probabilities as
    left-to-right CASE products over range(16), and the link /
    non-link frontiers as windowed running sums in (ratio DESC,
    pattern ASC) order — the sequential order fs_decision_table
    accumulates in, so the raw-double threshold comparisons agree."""
    mp_expr, up_expr = _fs_pattern_products()
    return f"""
    WITH {_SQL_FS_HEAD}, {_fs_flags_cte(True)}, probs AS (
        SELECT CAST(range AS BIGINT) AS pat,
               {mp_expr} AS mp,
               {up_expr} AS up
        FROM range({1 << _FS_N_FIELDS})
    ), decided AS (
        SELECT pat, round(mp / up, 6) AS lr_ratio_r,
               SUM(up) OVER (ORDER BY mp / up DESC, pat
                             ROWS UNBOUNDED PRECEDING) AS cu,
               SUM(mp) OVER (ORDER BY mp / up DESC, pat
                             ROWS BETWEEN CURRENT ROW
                             AND UNBOUNDED FOLLOWING) AS cm
        FROM probs
    )
    SELECT CAST(fl.id_a AS BIGINT) AS id_a,
           CAST(fl.id_b AS BIGINT) AS id_b,
           fl.pattern,
           d.lr_ratio_r,
           CAST(CASE WHEN d.cu <= {_FS_MU} THEN 2
                     WHEN d.cm <= {_FS_LAMERR} THEN 0
                     ELSE 1 END AS BIGINT) AS decision
    FROM flagged fl JOIN decided d ON d.pat = fl.pattern
"""


def fs_calibration_documents(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Calibration audit of the FS match posterior (the reliability
    histogram modern linkage engines plot next to the waterfall): SNM
    candidate pairs binned by floor(posterior * 10), each bin labeled
    with how many of its pairs are TRUE by the dedup family's own
    match definition — exact char-5-gram Jaccard >= 0.8, computed only
    on candidates (O(n*window) Jaccard evaluations, never all-pairs).
    A calibrated model's bin precision tracks the bin midpoint; a bin
    where it doesn't is where the clerical-review band belongs.
    Scale shape: the O(n*w) SNM pair stream, two equi-joins to the
    per-doc gram arrays, one map-side-combined groupBy over <=11 bins.
    Counts are exact bigints; bin_precision is a single int/int IEEE
    division, so DuckDB lands on the identical double.  The posterior
    is the shared-side-table product (same rounded double the
    fs_match_documents gate already proves bit-equal), so the binning
    floor(pr*10) agrees exactly across engines."""
    pf, lam, m, u = _fs_fit(spark, sf_dir)
    pr = pf.select("id_a", "id_b",
                   F.round(_fs_posterior(lam, m, u), 6).alias("pr"))
    binned = (_with_jaccard_truth(spark, sf_dir, pr)
              .select(F.floor(F.col("pr") * 10).cast("bigint")
                      .alias("bin"), "is_true"))
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum(F.when(F.col("is_true"), 1).otherwise(0)),
                   F.lit(0)).cast("bigint").alias("n_true"))
    return agg.select(
        "bin", "n_pairs", "n_true",
        (F.col("n_true") / F.col("n_pairs")).alias("bin_precision"))


# Calibration oracle: the same SNM/flag CTEs and the SHARED pm/pu
# product (via _fs_flag_products) as the fs_match oracle, the shared
# gram-set CTE and Jaccard truth predicate, then the grouped exact
# counts and one division per bin.
def _sql_fs_calibration() -> str:
    pm, pu = _fs_flag_products(tf=False)
    return f"""
    WITH {_SQL_FS_HEAD}, {_fs_flags_cte(False)}, {_sql_gram_sets()},
    scored AS (
        SELECT CAST(floor(round({pm} / ({pm} + {pu}), 6) * 10)
                    AS BIGINT) AS bin,
               {_sql_jaccard_true()} AS is_true
        FROM flagged fl
        JOIN sh ga ON ga.doc_id = fl.id_a
        JOIN sh gb ON gb.doc_id = fl.id_b
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_true,
           CAST(coalesce(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0)
                AS DOUBLE) / count(*) AS bin_precision
    FROM scored GROUP BY bin
"""


_PPRL_BITS = 256   # Bloom filter width m
_PPRL_K = 3        # hash functions per token (Schnell's g_i = h1 + i*h2)
_PPRL_TAU = 0.5    # Dice similarity floor on emitted pairs


def pprl_bloom_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving record linkage (Schnell/Bachteler/Reiher
    2009): each record's token set is encoded into an m=256-bit Bloom
    filter via k=3 double-hashing functions g_i = (h1 + i*h2) mod m
    (h1/h2 = two 32-bit words of md5(token)), and candidate pairs are
    compared on the ENCODINGS ONLY with the Dice coefficient
    2*|A&B| / (|A|+|B|) — the comparison a linkage unit runs when the
    parties may not exchange plaintext.  Candidates come from the same
    SNM window as the FS family (a deployment would block on encoded
    keys; the candidate source is orthogonal to the encoding).
    Scale shape: encoding is one JVM-side transform/flatten per row
    (no UDF, no shuffle); the filter is carried as a sorted distinct
    position array; two equi-joins attach encodings to the O(n*w) SNM
    pair stream.  Set sizes and intersections are exact ints; dice is
    a single bigint/bigint IEEE division, so DuckDB reproduces it
    bit-for-bit.  The oracle re-derives tokenization, md5 double
    hashing, the filter, and the Dice from scratch in SQL (md5 of
    identical UTF-8 strings agrees across engines — the established
    stratum convention)."""
    from .operators.textops import tokens
    docs = _read(spark, sf_dir, "documents")

    def _h(t: Column, lo: int) -> Column:
        return F.conv(F.substring(F.md5(t), lo, 8), 16, 10).cast("bigint")

    def _positions(t: Column) -> Column:
        return F.array(*[(_h(t, 1) + F.lit(i) * _h(t, 9)) % _PPRL_BITS
                         for i in range(_PPRL_K)])

    bf = F.array_sort(F.array_distinct(F.flatten(
        F.transform(F.array_distinct(tokens(F.col("text"))),
                    _positions))))
    enc = docs.select(F.col("doc_id").cast("bigint").alias("gid"),
                      bf.alias("bf"))
    pairs = _snm_pairs(docs)
    ea = enc.select(F.col("gid").alias("id_a"), F.col("bf").alias("ba"))
    eb = enc.select(F.col("gid").alias("id_b"), F.col("bf").alias("bb"))
    inter = F.size(F.array_intersect("ba", "bb"))
    dice = (F.lit(2) * inter) / (F.size("ba") + F.size("bb"))
    return (pairs.select(F.col("id_a").cast("bigint").alias("id_a"),
                         F.col("id_b").cast("bigint").alias("id_b"))
            .join(ea, "id_a").join(eb, "id_b")
            .select("id_a", "id_b",
                    inter.cast("bigint").alias("inter_bits"),
                    F.size("ba").cast("bigint").alias("bits_a"),
                    F.size("bb").cast("bigint").alias("bits_b"),
                    dice.alias("dice"))
            .where(F.col("dice") >= _PPRL_TAU))


# PPRL oracle: tokenization as the token-stats oracle's, the double
# hashing from md5 hex words parsed with DuckDB's 0x-cast, the filter
# as a sorted distinct position list, Dice as one CAST-to-double
# division, over the shared SNM pair CTEs.
def _sql_pprl_bloom() -> str:
    gs = " , ".join(
        f"(('0x' || substr(md5(t), 1, 8))::BIGINT "
        f"+ {i} * ('0x' || substr(md5(t), 9, 8))::BIGINT) % {_PPRL_BITS}"
        for i in range(_PPRL_K))
    return f"""
    WITH {_snm_ctes()}, enc AS (
        SELECT doc_id,
               list_sort(list_distinct(flatten(
                   [[{gs}] FOR t IN list_distinct(
                       list_filter(string_split_regex(lower(text),
                                                      '\\s+'),
                                   t -> t <> ''))]))) AS bf
        FROM documents
    )
    SELECT CAST(p.id_a AS BIGINT) AS id_a,
           CAST(p.id_b AS BIGINT) AS id_b,
           CAST(len(list_intersect(a.bf, b.bf)) AS BIGINT)
               AS inter_bits,
           CAST(len(a.bf) AS BIGINT) AS bits_a,
           CAST(len(b.bf) AS BIGINT) AS bits_b,
           CAST(2 * len(list_intersect(a.bf, b.bf)) AS DOUBLE)
               / (len(a.bf) + len(b.bf)) AS dice
    FROM pairs p
    JOIN enc a ON a.doc_id = p.id_a
    JOIN enc b ON b.doc_id = p.id_b
    WHERE CAST(2 * len(list_intersect(a.bf, b.bf)) AS DOUBLE)
              / (len(a.bf) + len(b.bf)) >= {_PPRL_TAU}
"""


def fs_waterfall_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field match-weight decomposition (the 'waterfall' modern
    linkage engines show to explain WHY a pair matched), in ODDS space
    so both engines stay IEEE-exact — log2 is a display transform, and
    cross-engine log libraries differ in the last ulp.  For each
    candidate pair: the prior odds lam/(1-lam), each field's Bayes
    factor m_i/u_i on agreement or (1-m_i)/(1-u_i) on disagreement,
    and the posterior odds as the left-to-right product; the posterior
    of fs_match_documents equals odds/(1+odds).  All factors inline as
    literal CASE chains — zero joins or shuffles on the pair stream.
    The oracle recomputes every division and the ordered product from
    the shared side-table doubles."""
    pf, lam, m, u = _fs_fit(spark, sf_dir)
    odds = F.lit(lam / (1.0 - lam))
    bf_cols = []
    for i in range(_FS_N_FIELDS):
        bf = (F.when(F.col(f"f{i}"), F.lit(m[i] / u[i]))
              .otherwise(F.lit((1.0 - m[i]) / (1.0 - u[i]))))
        bf_cols.append(F.round(bf, 6).alias(f"bf{i}_r"))
        odds = odds * bf
    return pf.select("id_a", "id_b", "pattern", *bf_cols,
                     F.round(odds, 6).alias("odds_r"))


def _sql_fs_waterfall() -> str:
    """Waterfall oracle: the same SNM pairs/flags CTEs as _sql_fs,
    each Bayes factor as the identical division of side-table doubles,
    and the odds as the same left-to-right product."""
    lam = "(SELECT lam FROM fsp WHERE field_id = 0)"
    odds = f"({lam} / (1.0 - {lam}))"
    bf_sel = []
    for i in range(_FS_N_FIELDS):
        sel_m = f"(SELECT m FROM fsp WHERE field_id = {i})"
        sel_u = f"(SELECT u FROM fsp WHERE field_id = {i})"
        bf = (f"CASE WHEN f{i} THEN {sel_m} / {sel_u} "
              f"ELSE (1.0 - {sel_m}) / (1.0 - {sel_u}) END")
        bf_sel.append(f"round({bf}, 6) AS bf{i}_r")
        odds = f"({odds} * {bf})"
    return f"""
    WITH {_SQL_FS_HEAD}, {_fs_flags_cte(False)}
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           {_FS_PACK_SQL} AS pattern,
           {', '.join(bf_sel)},
           round({odds}, 6) AS odds_r
    FROM flagged
"""


_FS_QUEUE_N = 100  # clerical-review queue depth


def fs_review_queue_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLERICAL-REVIEW QUEUE: the prioritized worklist a human
    reviewer consumes from the FS three-way rule's middle band —
    exactly the pairs fs_classify_documents routes to decision=1,
    ordered by AMBIGUITY (match posterior closest to 0.5 first:
    uncertainty sampling, the order that maximizes information per
    human label), ties broken by (id_a, id_b) so the queue is a total
    order over unique SNM pairs, truncated to the top _FS_QUEUE_N.

    Scale shape: the band membership is a literal IN over <=16
    patterns (whole-stage codegen, zero joins on the pair stream);
    the global ordering is a LIMIT-ed top-k — Spark plans
    TakeOrderedAndProject (per-partition heaps + a driver merge of N
    rows), never a full sort of the band; the queue_pos window then
    runs over <= N rows, bounded by construction.  The posterior is
    the same left-to-right literal product fs_match_documents uses,
    so both engines land bit-identical doubles and the ambiguity
    order cannot diverge."""
    from .operators.linkage import fs_decision_table
    pf, lam, m, u = _fs_fit(spark, sf_dir)
    review = [int(pat) for pat, _rt, d in
              fs_decision_table(m, u, _FS_N_FIELDS, _FS_MU, _FS_LAMERR)
              if d == 1]
    post = _fs_posterior(lam, m, u)
    top = (pf.where(F.col("pattern").isin(review))
           .select("id_a", "id_b", "pattern", post.alias("_post"),
                   F.abs(post - F.lit(0.5)).alias("_amb"))
           .orderBy(F.asc("_amb"), F.asc("id_a"), F.asc("id_b"))
           .limit(_FS_QUEUE_N))
    w = Window.orderBy(F.asc("_amb"), F.asc("id_a"), F.asc("id_b"))
    return (top.withColumn("queue_pos", F.row_number().over(w))
            .select(F.col("queue_pos").cast("bigint").alias("queue_pos"),
                    "id_a", "id_b", "pattern",
                    F.round("_post", 6).alias("posterior_r"),
                    F.round("_amb", 6).alias("ambiguity_r")))


def _sql_fs_review_queue() -> str:
    """Queue oracle: the same SNM pairs/flags CTEs, the decision
    frontier re-derived per pattern as in _sql_fs_classify (windowed
    running error masses in the same sequential order), the posterior
    as _sql_fs's left-to-right lam-weighted product — evaluated once
    per PATTERN (16 rows) rather than per pair, which is also how the
    Spark side's literal CASE collapses — and the queue as ORDER BY
    (ambiguity, id_a, id_b) LIMIT N with row_number over the same
    total order."""
    lam_sel = "(SELECT lam FROM fsp WHERE field_id = 0)"
    pm, pu = lam_sel, f"(1 - {lam_sel})"
    for fm, fu in zip(*_fs_field_factors()):
        pm = f"({pm} * {fm})"
        pu = f"({pu} * {fu})"
    mp_expr, up_expr = _fs_pattern_products()
    return f"""
    WITH {_SQL_FS_HEAD}, {_fs_flags_cte(True)}, probs AS (
        SELECT CAST(range AS BIGINT) AS pat,
               {mp_expr} AS mp,
               {up_expr} AS up,
               {pm} / ({pm} + {pu}) AS post
        FROM range({1 << _FS_N_FIELDS})
    ), decided AS (
        SELECT pat, post,
               SUM(up) OVER (ORDER BY mp / up DESC, pat
                             ROWS UNBOUNDED PRECEDING) AS cu,
               SUM(mp) OVER (ORDER BY mp / up DESC, pat
                             ROWS BETWEEN CURRENT ROW
                             AND UNBOUNDED FOLLOWING) AS cm
        FROM probs
    ), band AS (
        SELECT pat, post, abs(post - 0.5) AS amb
        FROM decided
        WHERE NOT (cu <= {_FS_MU}) AND NOT (cm <= {_FS_LAMERR})
    ), topq AS (
        SELECT fl.id_a, fl.id_b, fl.pattern, b.post, b.amb
        FROM flagged fl JOIN band b ON b.pat = fl.pattern
        ORDER BY b.amb, fl.id_a, fl.id_b
        LIMIT {_FS_QUEUE_N}
    )
    SELECT CAST(row_number() OVER (ORDER BY amb, id_a, id_b)
                AS BIGINT) AS queue_pos,
           CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           pattern,
           round(post, 6) AS posterior_r,
           round(amb, 6) AS ambiguity_r
    FROM topq
"""


_MB_BAND = 64        # structural rule: n_chars length-band width
_MB_MH_HASHES = 16   # LSH rule: MinHash signature length
_MB_MH_BANDS = 4     # LSH rule: band count


def _structural_block_key():
    """The structural rule's block key, (lang, n_chars div band) with
    a NUL sentinel for null lang — ONE definition shared by the
    blocking union and the block-size profiler so the profiler can't
    drift from the rule it audits (SQL twin: _SQL_STRUCTURAL_KEY)."""
    return F.concat(F.lit("lb:"),
                    F.coalesce(F.col("lang"), F.lit("\x00")),
                    F.lit("|"),
                    F.expr(f"n_chars div {_MB_BAND}").cast("string"))


_SQL_STRUCTURAL_KEY = ("'lb:' || coalesce(lang, chr(0)) || '|' || "
                       f"CAST(n_chars // {_MB_BAND} AS VARCHAR)")


def multi_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass blocking — the OR of independent blocking rules that
    production linkage engines (Splink's blocking_rules_to_generate_
    predictions) use so that one rule's blind spot is covered by
    another — with per-rule PROVENANCE: rule 1 = sorted-neighborhood
    (window 8 on the squeezed 12-char prefix), rule 2 = MinHash-LSH
    band buckets (16 hashes x 4 bands), rule 4 = structural attribute
    blocks (lang, n_chars div 64).  rules_mask = bitwise OR of the
    rules that proposed the pair (each rule contributes its bit at
    most once), n_rules = how many — the quantity a blocking-quality
    audit reads to see which rules are redundant vs load-bearing.

    Scale shape: the two key-equality rules run through the salted
    candidate_pairs operator (hot blocks above 256 members are
    triangular-salted — the sf0.1 structural blocks peak at 304, so
    the salting path is live in the gate), SNM is O(n * window) by
    construction, and the provenance merge is ONE groupBy on the pair
    key with a map-side-combined SUM of distinct bits."""
    _ensure_gram_hashes(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    doc_id = F.col("doc_id").cast("bigint").alias("conv_id")
    # SNM orders pairs by RANK (sort-key position), not id — normalize
    # to (min, max) so the same pair merges with the other rules' rows
    snm = _snm_pairs(docs).select(
        F.least(F.col("id_a"), F.col("id_b")).cast("bigint").alias("id_a"),
        F.greatest(F.col("id_a"), F.col("id_b")).cast("bigint")
        .alias("id_b"),
        F.lit(1).alias("bit"))

    canon = docs.select(doc_id, F.col("text").alias("full_text"))
    # pin the LSH keys: candidate_pairs consumes its blocks input four
    # times (size stats, the annotate join, then both pair roles), and
    # recomputing the gram-hash -> 16-permutation signatures per scan
    # dominated the union (measured 9.4 s -> ~4 s at sf0.1)
    mh_blocks = (minhash_blocks(canon, num_hashes=_MB_MH_HASHES,
                                bands=_MB_MH_BANDS)
                 .localCheckpoint(eager=False))
    mh = candidate_pairs(mh_blocks).select("id_a", "id_b",
                                           F.lit(2).alias("bit"))

    st_blocks = docs.select(doc_id,
                            _structural_block_key().alias("block_key"))
    st = candidate_pairs(st_blocks).select("id_a", "id_b",
                                           F.lit(4).alias("bit"))

    return (snm.unionByName(mh).unionByName(st)
            .groupBy("id_a", "id_b")
            .agg(F.sum("bit").cast("bigint").alias("rules_mask"),
                 F.count(F.lit(1)).cast("bigint").alias("n_rules")))


# Oracle: each rule re-derived independently (SNM via the rank-band
# self-join, LSH via the shared gram-hash side table -> permutation
# minima -> band keys, structural via a null-safe attribute self-join),
# then one grouped bit-sum.  Per-rule pair sets are distinct by
# construction (SNM emits each co-window pair once; DISTINCT collapses
# the <=4 band collisions; a pair lives in exactly one (lang, band)
# block), so SUM(bit) is the bitwise OR.
def _sql_multi_blocking() -> str:
    return f"""
    WITH mhb AS ({_sql_minhash_blocks()}),
    {_snm_ctes()}, snm AS (
        -- rank-ordered co-window pairs, normalized to (min, max) id
        SELECT least(id_a, id_b) AS id_a,
               greatest(id_a, id_b) AS id_b
        FROM pairs
    ), mh AS (
        SELECT DISTINCT CAST(a.conv_id AS BIGINT) AS id_a,
                        CAST(b.conv_id AS BIGINT) AS id_b
        FROM mhb a JOIN mhb b
          ON a.block_key = b.block_key
         AND CAST(a.conv_id AS BIGINT) < CAST(b.conv_id AS BIGINT)
    ), st AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM documents a JOIN documents b
          ON a.lang IS NOT DISTINCT FROM b.lang
         AND a.n_chars // {_MB_BAND} = b.n_chars // {_MB_BAND}
         AND a.doc_id < b.doc_id
    ), u AS (
        SELECT id_a, id_b, 1 AS bit FROM snm
        UNION ALL SELECT id_a, id_b, 2 FROM mh
        UNION ALL SELECT id_a, id_b, 4 FROM st
    )
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(SUM(bit) AS BIGINT) AS rules_mask,
           CAST(COUNT(*) AS BIGINT) AS n_rules
    FROM u GROUP BY id_a, id_b
"""


def meta_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """META-BLOCKING weighted node pruning (Papadakis et al., TKDE
    2014) over the multi-pass blocking graph: edge weight = n_rules
    (how many independent blocking rules proposed the pair — the CBS
    weighting scheme with rules standing in for blocks), each node
    keeps edges whose weight reaches its own mean incident weight, and
    an edge survives if EITHER endpoint keeps it.  This is the
    block-cleaning step between blocking and the pairwise scorer: it
    drops the long tail of single-weak-rule pairs per-node-adaptively,
    with NO global threshold to tune and no rule's exclusive coverage
    wiped wholesale.

    Purely bigint arithmetic end-to-end (w * deg >= sum_w, never a
    division), so the oracle re-derives the blocking union, the
    per-node stats, and every kept edge exactly.  Scale shape: the
    blocking graph is pinned once (localCheckpoint — stats + the two
    attach joins must not re-run the three blocking rules), stats are
    one map-side-combined groupBy over 2|E| skinny rows, and the
    attach is two equi-joins of the O(n) stats table
    (operators/blocking.py weighted_node_prune)."""
    from .operators.blocking import weighted_node_prune
    mb = multi_blocking_pairs(spark, sf_dir).localCheckpoint(eager=False)
    return weighted_node_prune(mb, weight_col="n_rules")


# The WNP rule in SQL, shared by both oracles below so the prune query
# and its quality audit cannot grade different semantics: per-node
# stats over the incidence rows, then the integer cross-multiplied
# keep predicate per endpoint (w >= sum_w/deg as w * deg >= sum_w).
_SQL_WNP_STATS = """incid AS (
        SELECT id_a AS node, n_rules AS w FROM mb
        UNION ALL
        SELECT id_b AS node, n_rules AS w FROM mb
    ), stats AS (
        SELECT node, count(*) AS deg, sum(w) AS sw
        FROM incid GROUP BY node
    )"""
_WNP_KEEP_A = "mb.n_rules * sa.deg >= sa.sw"
_WNP_KEEP_B = "mb.n_rules * sb.deg >= sb.sw"


# Oracle: the full multi-pass blocking union re-derived by its own
# oracle, then the WNP rule in three CTEs — integer cross-multiplied
# thresholds, no doubles anywhere.
def _sql_meta_blocking() -> str:
    return f"""
    WITH mb AS ({_sql_multi_blocking()}),
    {_SQL_WNP_STATS}
    SELECT CAST(mb.id_a AS BIGINT) AS id_a,
           CAST(mb.id_b AS BIGINT) AS id_b,
           CAST(mb.n_rules AS BIGINT) AS weight,
           CAST((CASE WHEN {_WNP_KEEP_A}
                      THEN 1 ELSE 0 END)
              + (CASE WHEN {_WNP_KEEP_B}
                      THEN 2 ELSE 0 END) AS BIGINT) AS retained_by
    FROM mb
    JOIN stats sa ON sa.node = mb.id_a
    JOIN stats sb ON sb.node = mb.id_b
    WHERE {_WNP_KEEP_A}
       OR {_WNP_KEEP_B}
"""


def meta_blocking_wep_pairs(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Meta-blocking WEIGHTED EDGE PRUNING over the same multi-pass
    blocking graph as meta_blocking_pairs — the global-mean-threshold
    baseline (keep iff w * |E| >= sum_w, bigint cross-multiplied) the
    WNP variant is measured against.  Grading both variants pins the
    trade-off the BENCH/BLOCKING.md study quantifies: WEP is cheaper
    (one 2-scalar aggregate, no per-node stats join) but can isolate
    records, which WNP never does.  Scale shape: the blocking graph
    pinned once, one map-side-combined global aggregate, a broadcast
    crossJoin filter — no keyed shuffle on the edge stream at all."""
    from .operators.blocking import weighted_edge_prune
    mb = multi_blocking_pairs(spark, sf_dir).localCheckpoint(eager=False)
    return weighted_edge_prune(mb, weight_col="n_rules")


# WEP oracle: the blocking union re-derived by its own oracle, the
# global mean as a scalar CTE, the same integer cross-multiplied keep.
def _sql_meta_blocking_wep() -> str:
    return f"""
    WITH mb AS ({_sql_multi_blocking()}),
    tot AS (SELECT count(*) AS n_e, sum(n_rules) AS sw FROM mb)
    SELECT CAST(mb.id_a AS BIGINT) AS id_a,
           CAST(mb.id_b AS BIGINT) AS id_b,
           CAST(mb.n_rules AS BIGINT) AS weight
    FROM mb, tot
    WHERE mb.n_rules * tot.n_e >= tot.sw
"""


def meta_blocking_wep_quality(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The WEP twin of meta_blocking_quality: over the UNPRUNED
    multi-pass blocking graph, flag every edge kept-vs-dropped by the
    GLOBAL-mean rule (w·|E| ≥ Σw) and true-vs-spurious by the shared
    exact 5-gram-Jaccard predicate, aggregated to the same one-row
    counts/ratios shape.  Grading both audits at every scale is what
    lets a deployment READ the WNP-vs-WEP trade-off from the contract
    itself (WEP's kept fraction is far smaller, and its truth
    retention is the number that decides whether that depth is free
    on a given corpus).  Scale shape: one graph pin, a 2-scalar
    global aggregate broadcast back, the shared gram joins, one
    map-side-combined aggregate."""
    mb = multi_blocking_pairs(spark, sf_dir).localCheckpoint(eager=False)
    tot = mb.agg(F.count(F.lit(1)).alias("_n_e"),
                 F.sum("n_rules").alias("_sw"))
    flagged = (mb.crossJoin(F.broadcast(tot))
               .select("id_a", "id_b",
                       (F.col("n_rules") * F.col("_n_e")
                        >= F.col("_sw")).alias("kept")))
    return _pruning_quality_of(spark, sf_dir, flagged)


# WEP-quality oracle: same blocking union, the global-mean kept flag,
# and the SHARED sh/truth/counts SQL pieces as the WNP audit.
def _sql_meta_blocking_wep_quality() -> str:
    return f"""
    WITH mb AS ({_sql_multi_blocking()}),
    tot AS (SELECT count(*) AS n_e, sum(n_rules) AS sw FROM mb),
    {_sql_gram_sets()}, t AS (
        SELECT (mb.n_rules * tot.n_e >= tot.sw) AS kept,
               {_sql_jaccard_true()} AS is_true
        FROM mb, tot
        JOIN sh ga ON ga.doc_id = mb.id_a
        JOIN sh gb ON gb.doc_id = mb.id_b
    ), {_SQL_QUALITY_TAIL}
"""


def meta_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit that justifies (or vetoes) meta-blocking: over the
    UNPRUNED multi-pass blocking graph, flag every edge kept-vs-dropped
    by weighted node pruning and true-vs-spurious by exact char-5-gram
    Jaccard >= 0.8 (the dedup family's own match definition), then
    aggregate to one row: candidates, kept, truth pairs reachable
    through blocking, truth pairs surviving pruning, the kept fraction
    (candidate-set shrink the scorer enjoys) and the truth retention
    (recall WNP costs — the number that must stay 1.0 for pruning to
    be free).  Truth is computed ONLY on blocking candidates — O(|E|)
    Jaccard evaluations, never all-pairs — which is exactly the
    quantity pruning can affect.

    Scale shape: one graph pin (localCheckpoint), the O(n) stats
    attach from weighted_node_prune(emit_all=True), two equi-joins of
    the per-doc gram arrays, one map-side-combined global aggregate.
    Counts are exact bigints; the two ratios are single divisions of
    exact ints, so DuckDB reproduces them bit-for-bit."""
    from .operators.blocking import weighted_node_prune
    mb = multi_blocking_pairs(spark, sf_dir).localCheckpoint(eager=False)
    flagged = (weighted_node_prune(mb, weight_col="n_rules",
                                   emit_all=True)
               .select("id_a", "id_b",
                       (F.col("retained_by") > 0).alias("kept")))
    return _pruning_quality_of(spark, sf_dir, flagged)


def _with_jaccard_truth(spark: SparkSession, sf_dir: str,
                        pairs: DataFrame) -> DataFrame:
    """``pairs`` (id_a, id_b, ...) plus ``is_true``: exact char-5-gram
    Jaccard >= 0.8, the dedup family's match definition, evaluated on
    the given pairs only.  The one Spark definition the pruning audits
    and the FS calibration share (SQL twin: _sql_gram_sets +
    _sql_jaccard_true)."""
    from .operators.dedup import char_ngram_set
    docs = _read(spark, sf_dir, "documents")
    grams = docs.select(F.col("doc_id").cast("bigint").alias("gid"),
                        char_ngram_set(F.col("text"), 5).alias("g"))
    ga = grams.select(F.col("gid").alias("id_a"), F.col("g").alias("ga"))
    gb = grams.select(F.col("gid").alias("id_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    # the size-ratio clauses are implied by J >= 0.8 (inter <= min
    # size, union >= max size) — kept so the predicate is the SQL
    # twin's, clause for clause
    is_true = ((F.size("ga") * 100 >= 80 * F.size("gb"))
               & (F.size("gb") * 100 >= 80 * F.size("ga"))
               & (inter * 100 >= 80 * union))
    return (pairs.join(ga, "id_a").join(gb, "id_b")
            .select(*pairs.columns, is_true.alias("is_true")))


def _pruning_quality_of(spark: SparkSession, sf_dir: str,
                        flagged: DataFrame) -> DataFrame:
    """Shared tail of the two pruning-quality audits (WNP + WEP):
    attach the Jaccard truth flag to the kept-flagged edge stream and
    aggregate to the one counts row.  ONE definition so the two audits
    cannot grade different truth semantics (SQL twin:
    _SQL_QUALITY_TAIL)."""
    t = _with_jaccard_truth(spark, sf_dir, flagged)
    agg = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.coalesce(F.sum(F.when(F.col("kept"), 1).otherwise(0)), F.lit(0))
        .cast("bigint").alias("n_kept"),
        F.coalesce(F.sum(F.when(F.col("is_true"), 1).otherwise(0)),
                   F.lit(0))
        .cast("bigint").alias("n_truth"),
        F.coalesce(F.sum(F.when(F.col("kept") & F.col("is_true"), 1)
                         .otherwise(0)), F.lit(0))
        .cast("bigint").alias("n_truth_kept"))
    return agg.select(
        "n_candidates", "n_kept", "n_truth", "n_truth_kept",
        F.when(F.col("n_candidates") > 0,
               F.col("n_kept") / F.col("n_candidates"))
         .otherwise(F.lit(1.0)).alias("kept_fraction"),
        F.when(F.col("n_truth") > 0,
               F.col("n_truth_kept") / F.col("n_truth"))
         .otherwise(F.lit(1.0)).alias("truth_retention"))


# The SQL twin of the Jaccard truth above, ONE builder per piece: the
# per-doc char-5-gram set CTE, the predicate over two gram-set
# aliases, and the all-pairs edge select.  The near-dup, training and
# cluster-audit oracles, both pruning audits, the FS calibration and
# the cross-scale sampled checks all build on these.
def _sql_gram_sets(name: str = "sh", source: str = "documents") -> str:
    """CTE ``name``(doc_id, g): each row's sorted distinct char-5-gram
    list (the twin of operators.dedup.char_ngram_set)."""
    return f"""{name} AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   [text[i:i+4] FOR i IN
                    range(1, greatest(length(text) - 4, 1) + 1)])) AS g
        FROM {source})"""


def _sql_jaccard_true(a: str = "ga", b: str = "gb") -> str:
    """Jaccard(a.g, b.g) >= 0.8 in integer arithmetic.  The two
    size-ratio clauses are implied by it (inter <= min size, union >=
    max size) and let DuckDB skip the intersect for pairs of unmatched
    size."""
    return f"""(len({a}.g) * 100 >= 80 * len({b}.g)
                AND len({b}.g) * 100 >= 80 * len({a}.g)
                AND len(list_intersect({a}.g, {b}.g)) * 100
                    >= 80 * len(list_distinct(list_concat({a}.g, {b}.g))))"""


def _sql_jaccard_edges(grams: str, stratum: str = "TRUE") -> str:
    """All-pairs near-dup edges over the gram-set CTE ``grams``: (id_a
    < id_b, inter_count, union_count) for each pair that passes the
    Jaccard predicate.  ``stratum`` is an extra pair predicate over
    (a.doc_id, b.doc_id); tools/cross_scale_check.py samples the
    quadratic oracle down to a deterministic md5 stratum with it."""
    return f"""
    SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(b.doc_id AS BIGINT) AS id_b,
           CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS inter_count,
           CAST(len(list_distinct(list_concat(a.g, b.g))) AS BIGINT)
               AS union_count
    FROM {grams} a JOIN {grams} b ON a.doc_id < b.doc_id
    WHERE ({stratum}) AND {_sql_jaccard_true("a", "b")}"""


# The counts/ratios tail shared by the two pruning-quality oracles.
_SQL_QUALITY_TAIL = """agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(coalesce(sum(CASE WHEN kept THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_kept,
               CAST(coalesce(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_truth,
               CAST(coalesce(sum(CASE WHEN kept AND is_true
                                 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_truth_kept
        FROM t)
    SELECT n_candidates, n_kept, n_truth, n_truth_kept,
           CASE WHEN n_candidates > 0
                THEN CAST(n_kept AS DOUBLE) / n_candidates
                ELSE 1.0 END AS kept_fraction,
           CASE WHEN n_truth > 0
                THEN CAST(n_truth_kept AS DOUBLE) / n_truth
                ELSE 1.0 END AS truth_retention
    FROM agg"""


# Oracle: the blocking union + WNP flags re-derived as in
# _sql_meta_blocking (without the survivor filter), truth as the
# neardup oracle's Jaccard predicate restricted to blocking candidates,
# then the four exact counts and two guarded divisions.
def _sql_meta_blocking_quality() -> str:
    return f"""
    WITH mb AS ({_sql_multi_blocking()}),
    {_SQL_WNP_STATS}, {_sql_gram_sets()}, t AS (
        SELECT ({_WNP_KEEP_A}
                OR {_WNP_KEEP_B}) AS kept,
               {_sql_jaccard_true()} AS is_true
        FROM mb
        JOIN stats sa ON sa.node = mb.id_a
        JOIN stats sb ON sb.node = mb.id_b
        JOIN sh ga ON ga.doc_id = mb.id_a
        JOIN sh gb ON gb.doc_id = mb.id_b
    ), {_SQL_QUALITY_TAIL}
"""


def block_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-size profiler over the key-based blocking rules (MinHash
    LSH 16x4 and the structural lang x 64-char length band): for each
    rule and block size s, how many blocks have that size and how much
    pair mass (n_blocks * C(s,2)) they contribute.  This is the audit
    a production ER run does BEFORE generating pairs — the pair mass
    is the scorer's cost driver and the tail of this histogram is what
    decides the hot-block salting threshold (operators/pairs.py): a
    single boilerplate bucket of 10^6 members is 5*10^11 pairs on its
    own, visible here as one row long before the shuffle that would
    materialize it.

    Scale shape: two scans, one groupBy per (rule, key) — map-side
    combined, no joins, no pair materialization anywhere.  All exact
    bigint arithmetic."""
    _ensure_gram_hashes(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    canon = docs.select(F.col("doc_id").cast("bigint").alias("conv_id"),
                        F.col("text").alias("full_text"))
    mh = (minhash_blocks(canon, num_hashes=_MB_MH_HASHES,
                         bands=_MB_MH_BANDS)
          .select(F.lit("minhash").alias("rule"), "block_key"))
    st = docs.select(F.lit("structural").alias("rule"),
                     _structural_block_key().alias("block_key"))
    sizes = (mh.unionByName(st)
             .groupBy("rule", "block_key")
             .agg(F.count(F.lit(1)).alias("s")))
    return (sizes.groupBy("rule", F.col("s").cast("bigint")
                          .alias("block_size"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
                 F.sum(F.expr("s * (s - 1) div 2")).cast("bigint")
                 .alias("n_pairs")))


# Oracle: LSH band keys from the shared gram-hash side table
# (_sql_minhash_blocks), structural keys rebuilt from the raw
# attributes with the same null sentinel, then the two grouped counts.
def _sql_block_size_profile() -> str:
    return f"""
    WITH mhb AS ({_sql_minhash_blocks()}),
    u AS (
        SELECT 'minhash' AS rule, block_key FROM mhb
        UNION ALL
        SELECT 'structural', {_SQL_STRUCTURAL_KEY}
        FROM documents
    ), sizes AS (
        SELECT rule, block_key, count(*) AS s
        FROM u GROUP BY rule, block_key
    )
    SELECT rule,
           CAST(s AS BIGINT) AS block_size,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(s * (s - 1) // 2) AS BIGINT) AS n_pairs
    FROM sizes GROUP BY rule, s
"""


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: tokens = spaces + 1 (documents are space-joined
    word sequences) — pure arithmetic, identical in SQL."""
    docs = _read(spark, sf_dir, "documents")
    n_tokens = (F.length("text")
                - F.length(F.regexp_replace("text", " ", "")) + 1)
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.length("text").cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"))


_SQL_DOC_TOKENS = """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(replace(text, ' ', '')) + 1
                AS BIGINT) AS n_tokens
    FROM documents
"""


# BPE-ish pre-tokenization pattern (letter runs / digit runs / single
# non-space symbols) — no lookaheads, so Java and RE2 agree exactly
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-style pre-tokenizer regex (the
    whitespace count in doc_token_stats is the cheap path; this is the
    LLM-training-style count).  JVM-side regexp_extract_all."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint")
        .alias("n_distinct_tokens"))


_SQL_BPE_TOKENS = f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_RE}')))
               AS BIGINT) AS n_distinct_tokens
    FROM documents
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: char count, token count, short-doc flag, mean
    token length x100, stopword count (English stopword-list hits) —
    all integer arithmetic so the oracle hash is exact."""
    from .operators.textops import tokens
    docs = _read(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = (n_chars - F.length(F.regexp_replace("text", " ", "")) + 1)
    mean_tok_x100 = F.floor((n_chars - (n_tokens - 1)) * 100 / n_tokens)
    stopwords = F.size(F.filter(
        tokens(F.col("text")),
        lambda t: t.isin(*_EN_STOPWORDS)))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        (n_chars < 100).cast("boolean").alias("is_short"),
        mean_tok_x100.cast("bigint").alias("mean_token_len_x100"),
        stopwords.cast("bigint").alias("stopword_count"))


# mirrors edlib_spark.operators.textops._STOPWORDS["en"]
# single source of truth: the same list lang_id scores against
from .operators.textops import _STOPWORDS as _TEXTOPS_STOPWORDS  # noqa: E402

_EN_STOPWORDS = _TEXTOPS_STOPWORDS["en"]

_SQL_DOC_QUALITY = f"""
    WITH s AS (
        SELECT doc_id, length(text) AS n_chars,
               length(text) - length(replace(text, ' ', '')) + 1
                   AS n_tokens,
               len(list_filter(
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t != ''),
                   t -> list_contains(
                       {_EN_STOPWORDS!r}, t))) AS stopword_count
        FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           n_chars < 100 AS is_short,
           CAST(floor((n_chars - (n_tokens - 1)) * 100 / n_tokens)
                AS BIGINT) AS mean_token_len_x100,
           CAST(stopword_count AS BIGINT) AS stopword_count
    FROM s
"""


def doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the keyword-extraction /
    corpus-vocabulary operator a curation pipeline runs for topic
    filters and index sketches.  INTEGER idf: score = (tf · N) div df
    — monotone in the classical tf·log(N/df) for fixed tf and exactly
    reproducible cross-engine (ln is not correctly-rounded IEEE, so a
    log-based score could flip a rank at the last ulp; an integer
    ratio cannot).  Ties broken (score DESC, term ASC) — total order.
    Scale shape: one explode (linear in tokens), tf via one
    map-side-combined groupBy, df via a second over the tf table
    (vocabulary-sized), a term-keyed equi-join (AQE broadcasts the
    vocabulary while it fits; hash-shuffle beyond), N attached as a
    broadcast 1-row crossJoin, and the top-k window partitions by
    doc_id — no global window, nothing quadratic."""
    from .operators.textops import tokens
    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tot = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    scored = (tf.join(dfreq, "term").crossJoin(F.broadcast(tot))
              .withColumn("score", F.expr("tf * _n_docs div df")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"),
                                             F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("doc_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    "term",
                    F.col("tf").cast("bigint").alias("tf"),
                    F.col("df").cast("bigint").alias("df"),
                    F.col("score").cast("bigint").alias("score")))


# TF-IDF oracle: the same tokenization as every token-level oracle
# (string_split_regex + non-empty filter), tf/df/N re-derived, the
# identical integer score, and the same (score DESC, term ASC) rank.
_SQL_TFIDF_TOPTERMS = """
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text),
                                                     '\\s+'),
                                  t -> t <> '')) AS term
        FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    tot AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT f.doc_id, f.term, f.tf, d.df,
               (f.tf * t.n) // d.df AS score
        FROM tf f JOIN dfreq d USING (term), tot t),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS rnk
        FROM scored)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(rnk AS BIGINT) AS rank,
           term,
           CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df,
           CAST(score AS BIGINT) AS score
    FROM ranked WHERE rnk <= 3
"""


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 10 vectors.

    Dot/norms computed in double via JVM higher-order functions
    (F.zip_with + F.aggregate); ranking tie-broken by vec_id.  The
    similarity column is rounded to 4 dp for stable cross-engine hashes.
    """
    from .operators.dedup import cosine as cosine_expr
    base = _vectors(spark, sf_dir)
    queries = base.where(F.col("vec_id") < 10) \
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("q"))
    joined = queries.crossJoin(base.where(
        F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("n")))
    return _top5(joined.select(
        "query_id", "neighbor_id",
        cosine_expr(F.col("q"), F.col("n")).alias("cos")), "cos")


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings as (vec_id BIGINT, v array<double>)."""
    emb = _read(spark, sf_dir, "embeddings")
    return emb.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      F.transform("embedding",
                                  lambda x: x.cast("double")).alias("v"))


def _top5(scored: DataFrame, score: str,
          descending: bool = True) -> DataFrame:
    """The ranking tail every ANN query shares: per query_id the 5 best
    neighbors by ``score`` (ties by neighbor_id), BIGINT rank, and the
    score rounded to 4 dp as ``<score>_r`` (SQL twin: _sql_top5)."""
    order = F.desc(score) if descending else F.asc(score)
    w = Window.partitionBy("query_id").orderBy(order, "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.round(score, 4).alias(f"{score}_r")))


def _sql_cosine(a: str, b: str) -> str:
    """Cosine of two DOUBLE[] lists as sequential list_sum folds, which
    match operators.dedup.cosine's Catalyst left fold bit for bit."""
    return (f"list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
            f" / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
            f" * sqrt(list_sum(list_transform({b}, x -> x * x))))")


def _sql_top5(src: str, score: str, descending: bool = True) -> str:
    """The ANN ranking tail over CTE ``src`` (query_id, neighbor_id,
    ``score``): a ``ranked`` CTE and the final top-5 select."""
    order = f"{score} DESC" if descending else score
    return f"""ranked AS (
        SELECT query_id, neighbor_id, {score},
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {order}, neighbor_id) AS rank
        FROM {src})
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round({score}, 4) AS {score}_r
    FROM ranked WHERE rank <= 5
"""


_SQL_VEC_BASE = """base AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings)"""

_SQL_ANN_TOPK = f"""
    WITH {_SQL_VEC_BASE},
    scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               {_sql_cosine("q.v", "n.v")} AS cos
        FROM base q, base n
        WHERE q.vec_id < 10 AND n.vec_id >= 10),
    {_sql_top5("scored", "cos")}"""


def top_similar_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar adjacent doc pairs — the reference CLI's
    top-N best-scores feature with adaptive k
    (apps/aligner/aligner.cpp:153,181-195): a sampled unbounded pass
    upper-bounds the 20th-best distance, then the full scan runs
    k-bounded so the kernel's band death discards non-contenders (see
    operators.scoring.top_n_best).  Exact — same rows as an unbounded
    scan + TakeOrderedAndProject."""
    from .operators.scoring import top_n_best
    return (top_n_best(_doc_pairs(spark, sf_dir), 20)
            .select("id_a", "id_b",
                    F.col("edit_distance").cast("bigint")
                    .alias("edit_distance")))


_SQL_TOP_SIMILAR = f"""
    SELECT * FROM ({_SQL_NW_DOCUMENTS})
    ORDER BY edit_distance, id_a, id_b LIMIT 20
"""


def query_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One query text vs the whole corpus — the reference CLI's
    1-query-vs-target loop (aligner.cpp:147-225) as a broadcast
    crossJoin + batched scorer."""
    docs = _read(spark, sf_dir, "documents")
    query = docs.where(F.col("doc_id") == 0) \
        .select(F.col("text").alias("qtext"))
    return (docs.crossJoin(F.broadcast(query))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    edit_distance(F.col("qtext"), F.col("text"), "NW", -1)
                    .cast("bigint").alias("edit_distance")))


def query_infix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One query searched INSIDE every corpus document — HW infix mode
    1-vs-N (the reference's read-mapping shape: short query, free start
    and end in the target, aligner.cpp mode HW).  Broadcast crossJoin +
    the batched semi-global kernel; targets truncated so the
    min-over-substrings oracle stays affordable."""
    docs = _read(spark, sf_dir, "documents")
    query = docs.where(F.col("doc_id") == 0) \
        .select(F.substring("text", 30, 25).alias("qtext"))
    return (docs.crossJoin(F.broadcast(query))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    edit_distance(F.col("qtext"),
                                  F.substring("text", 1, 80), "HW", -1)
                    .cast("bigint").alias("edit_distance")))


_SQL_QUERY_INFIX = """
    WITH q AS (SELECT text[30:54] AS qt FROM documents WHERE doc_id = 0),
    d AS (SELECT doc_id, text[1:80] AS tb FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(list_min(flatten(list_transform(
                    range(0, length(tb) + 1),
                    i -> list_transform(
                        range(i, length(tb) + 1),
                        j -> levenshtein(qt, tb[i + 1:j]))))) AS BIGINT)
               AS edit_distance
    FROM d CROSS JOIN q
"""


_SQL_QUERY_VS_CORPUS = """
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(levenshtein(q.text, d.text) AS BIGINT) AS edit_distance
    FROM documents d, (SELECT text FROM documents WHERE doc_id = 0) q
"""


def query_top_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-n corpus targets for ONE query with adaptive k — the
    reference CLI's numBestSeqs heap that tightens k as better targets
    arrive (apps/aligner/aligner.cpp:181-195), re-expressed for a
    distributed scan via top_n_best's two-pass bound: an unbounded
    pass over a hash sample yields a guaranteed k for the bounded
    full scan (band death discards non-contenders in C).  Result is
    EXACT: identical rows to an unbounded scan + top-n with the
    deterministic (distance, doc_id) tie-break — which is precisely
    what the oracle computes."""
    from .operators.scoring import top_n_best
    docs = _read(spark, sf_dir, "documents")
    query = docs.where(F.col("doc_id") == 0) \
        .select(F.col("text").alias("text_a"))
    pairs = (docs.crossJoin(F.broadcast(query))
             .select(F.lit(0).cast("bigint").alias("id_a"),
                     F.col("doc_id").cast("bigint").alias("id_b"),
                     "text_a",
                     F.col("text").alias("text_b")))
    out = top_n_best(pairs, 25, mode="NW")
    return out.select(F.col("id_b").alias("doc_id"),
                      F.col("edit_distance").cast("bigint")
                       .alias("edit_distance"))


_SQL_QUERY_TOP_CORPUS = """
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(levenshtein(q.text, d.text) AS BIGINT) AS edit_distance
    FROM documents d, (SELECT text FROM documents WHERE doc_id = 0) q
    ORDER BY edit_distance, doc_id LIMIT 25
"""


def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram overlap for adjacent doc pairs (integer counts keep
    the oracle hash exact; Jaccard = inter/union downstream)."""
    from .operators.textops import ngram_set
    g = ngram_set(F.col("text"))
    # text_a / text_b carry the two gram sets here
    return (_doc_pairs(spark, sf_dir, g, g)
            .select("id_a", "id_b",
                    F.size(F.array_intersect("text_a", "text_b"))
                     .cast("bigint").alias("inter_count"),
                    F.size(F.array_union("text_a", "text_b"))
                     .cast("bigint").alias("union_count")))


_SQL_NGRAM_JACCARD = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t != '') AS tk
        FROM documents),
    grams AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   list_transform(
                       range(1, greatest(len(tk) - 3, 0) + 2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
                   AS g
        FROM toks)
    SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(b.doc_id AS BIGINT) AS id_b,
           CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS inter_count,
           CAST(len(list_distinct(list_concat(a.g, b.g))) AS BIGINT)
               AS union_count
    FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
"""


# ---------------------------------------------------------------------------
# reference-parity queries without a SQL oracle (rows-only checks)
# ---------------------------------------------------------------------------


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID.  Oracle-checked: the heuristic is
    pure stopword-count arithmetic (argmax with first-wins ties in
    declaration order), which _sql_doc_lang_id regenerates in SQL from
    the same shared stopword table."""
    from .operators.textops import lang_id
    docs = _read(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       lang_id(F.col("text")).alias("lang_pred"))


def _sql_doc_lang_id() -> str:
    """DuckDB twin of textops.lang_id, generated from the SAME stopword
    dict (single source of truth).  Tie semantics: the Spark loop only
    replaces the leader on a strictly greater score, so the winner is
    the FIRST language (declaration order) attaining the max — encoded
    here as a cascade of >= comparisons against later languages."""
    from .operators.textops import _STOPWORDS
    langs = list(_STOPWORDS)
    counts = ",\n               ".join(
        "len(list_filter(tk, t -> t IN ({}))) AS {}".format(
            ", ".join(f"'{w}'" for w in _STOPWORDS[lang]), lang)
        for lang in langs)
    all_zero = " AND ".join(f"{lang} = 0" for lang in langs)
    branches = "\n             ".join(
        "WHEN {} THEN '{}'".format(
            " AND ".join(f"{lang} >= {other}"
                         for other in langs[i + 1:]) or "TRUE", lang)
        for i, lang in enumerate(langs[:-1]))
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '') AS tk
            FROM documents),
        s AS (
            SELECT doc_id,
               {counts}
            FROM toks)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CASE WHEN {all_zero} THEN 'und'
             {branches}
             ELSE '{langs[-1]}'
               END AS lang_pred
        FROM s
    """


_TOKEN_HASHES_PATH = os.path.join(DATA_DIR, "token_hashes_current.parquet")


def _ensure_side_table(sf_dir: str, path: str, build) -> None:
    """Marker-gated write of an oracle side table (Spark-computed
    xxhash64 values DuckDB cannot re-derive; everything downstream of
    them IS re-derived in SQL).

    Written to one FIXED path: the gate runs each Spark query before
    its oracle on one sf_dir at a time, so whichever query ran last
    determines the content — the same convention the flagship
    transcript fixtures use.  A marker records (sf_dir, source mtime)
    to skip rewrites within and across runs on the same input;
    ``build()`` is only invoked when a write is needed."""
    import json as _json

    src = os.path.join(sf_dir, "documents.parquet")
    marker = path + ".marker"
    state = {"sf_dir": os.path.abspath(sf_dir),
             "src_mtime": os.path.getmtime(src)}
    if os.path.exists(marker):
        try:
            with open(marker) as fh:
                if _json.load(fh) == state:
                    return
        except (ValueError, OSError):
            pass
    df = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    with open(marker, "w") as fh:
        _json.dump(state, fh)


def _ensure_token_hashes(spark: SparkSession, sf_dir: str) -> None:
    """Materialize per-token xxhash64 values for ``documents`` as a
    small parquet the SimHash oracles read.  DuckDB has no xxhash64, so
    hash parity is not re-derivable in SQL — but once the hashes are
    shared, the SimHash majority vote, signed bit packing, banding, and
    Hamming join ARE, which upgrades doc_simhash_buckets /
    doc_simhash_neardup from rows-only to hash-exact oracle checks."""
    from .operators.textops import token_hashes

    def build():
        docs = _read(spark, sf_dir, "documents")
        return docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                           F.explode_outer(token_hashes(F.col("text")))
                           .alias("h"))

    _ensure_side_table(sf_dir, _TOKEN_HASHES_PATH, build)


# Shared CTE: rebuild each document's 64-bit SimHash from the Spark-
# written token hashes — per-bit majority vote (2*votes > n), HUGEINT
# bit packing folded back into signed BIGINT, empty/absent token lists
# -> 0 (matching _simhash_from_hashes).  Arithmetic >> plus the band
# mask equals Spark's shiftrightunsigned for these widths.
_SQL_SIMHASH_CTE = f"""
    WITH th AS (SELECT doc_id, h
                FROM read_parquet('{_TOKEN_HASHES_PATH}/*.parquet')),
    n AS (SELECT doc_id, count(h) AS n FROM th GROUP BY doc_id),
    bits AS (
        SELECT th.doc_id, b.b, sum((th.h >> b.b) & 1) AS votes
        FROM th, (SELECT unnest(range(64)) AS b) b
        WHERE th.h IS NOT NULL
        GROUP BY th.doc_id, b.b),
    packed AS (
        SELECT bits.doc_id,
               sum(CASE WHEN 2 * bits.votes > n.n
                        THEN CAST(1 AS HUGEINT) << CAST(b AS INT)
                        ELSE CAST(0 AS HUGEINT) END) AS u
        FROM bits JOIN n USING (doc_id)
        GROUP BY bits.doc_id),
    sh AS (
        SELECT n.doc_id,
               coalesce(CAST(CASE WHEN p.u >= (CAST(1 AS HUGEINT) << 63)
                                  THEN p.u - (CAST(1 AS HUGEINT) << 64)
                                  ELSE p.u END AS BIGINT), 0) AS simhash
        FROM n LEFT JOIN packed p USING (doc_id)),
    keyed AS (
        SELECT doc_id, simhash,
               'sh' || b || ':' ||
               CAST((simhash >> (b * 16)) & 65535 AS VARCHAR) AS band_key
        FROM sh, (SELECT unnest(range(4)) AS b) bb)
"""

_SQL_SIMHASH_BUCKETS = _SQL_SIMHASH_CTE + """
    SELECT doc_id, simhash, band_key FROM keyed
"""

_SQL_SIMHASH_NEARDUP = _SQL_SIMHASH_CTE + """
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM keyed a JOIN keyed b
      ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def doc_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup banding keys.  Oracle-backed: the per-token
    xxhash64 values are shared via _ensure_token_hashes, and DuckDB
    re-derives the majority vote + band keys independently."""
    from .operators.textops import simhash, simhash_band_keys
    _ensure_token_hashes(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    return (docs
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    simhash(F.col("text")).alias("simhash"))
            .select("doc_id", "simhash",
                    F.explode(simhash_band_keys(F.col("simhash")))
                    .alias("band_key")))


_SHINGLE_HASHES_PATH = os.path.join(DATA_DIR, "shingle_hashes_current.parquet")


def _ensure_shingle_hashes(spark: SparkSession, sf_dir: str,
                           window: int = 16) -> None:
    """Materialize per-shingle xxhash64 values for ``documents`` (the
    only non-SQL-derivable input of the winnowing fingerprint) so
    DuckDB re-derives the keep-mod selection and xor fold itself.
    Uses the SAME ``shingle_hashes`` Column as rolling_fingerprint,
    so the query and its oracle input cannot drift."""
    from .operators.textops import shingle_hashes

    def build():
        docs = _read(spark, sf_dir, "documents")
        return docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                           F.explode_outer(
                               shingle_hashes(F.col("text"), window))
                           .alias("h"))

    _ensure_side_table(sf_dir, _SHINGLE_HASHES_PATH, build)


# Winnowing fingerprint rebuilt from the shared shingle hashes: DuckDB
# re-derives the keep-mod filter (h divisible by keep_mod — identical
# under either sign convention) and the xor fold (associative, so the
# unordered bit_xor aggregate equals Spark's left fold); empty or
# all-dropped documents fold to 0 like F.aggregate's init.
_SQL_DOC_FINGERPRINT = f"""
    SELECT doc_id,
           coalesce(bit_xor(h) FILTER (WHERE h % 8 = 0), 0) AS fingerprint
    FROM read_parquet('{_SHINGLE_HASHES_PATH}/*.parquet')
    GROUP BY doc_id
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash document fingerprint.  Oracle-
    backed via the shared shingle-hash parquet: only the raw xxhash64
    values are Spark-produced; the keep-mod selection and xor fold are
    re-derived in SQL."""
    from .operators.textops import rolling_fingerprint
    _ensure_shingle_hashes(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       rolling_fingerprint(F.col("text"))
                       .alias("fingerprint"))


_LSH_PLANES_PATH = os.path.join(DATA_DIR, "lsh_planes_current.parquet")


def _ensure_lsh_planes(num_planes: int = 8, n_tables: int = 4,
                       dim: int = 64, seed: int = 42) -> None:
    """Materialize the seeded random-hyperplane coordinates as a small
    parquet (tbl, p, w list<double>) so DuckDB can recompute LSH bucket
    keys independently.  Unlike the token-hash side table these are
    pure seeded constants (numpy PCG64), not Spark-computed values —
    the oracle re-derives EVERYTHING: the sequential-left-fold dot
    products (list_sum matches Catalyst's aggregate fold bit-for-bit
    in IEEE double, verified over all fixture dots), the sign packing,
    and (for the ANN query) the margin-sorted multi-probe keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .operators.textops import _plane_matrix

    if os.path.exists(_LSH_PLANES_PATH):
        return
    os.makedirs(os.path.dirname(_LSH_PLANES_PATH), exist_ok=True)
    tbls, ps, ws = [], [], []
    for t in range(n_tables):
        planes = _plane_matrix(num_planes, dim, seed + 1000 * t)
        for p in range(num_planes):
            tbls.append(t)
            ps.append(p)
            ws.append([float(x) for x in planes[p]])
    pq.write_table(
        pa.table({"tbl": pa.array(tbls, pa.int32()),
                  "p": pa.array(ps, pa.int32()),
                  "w": pa.array(ws, pa.list_(pa.float64()))}),
        _LSH_PLANES_PATH)


# Bucket key rebuilt from shared plane constants: per-plane dot via the
# same sequential left fold, sign bits packed (buckets are < 2^8 here,
# no sign-bit subtleties).
_SQL_LSH_BUCKETS = f"""
    WITH planes AS (
        SELECT p, w FROM read_parquet('{_LSH_PLANES_PATH}') WHERE tbl = 0),
    dots AS (
        SELECT e.vec_id, p.p,
               list_sum(list_transform(list_zip(e.embedding, p.w),
                                       x -> CAST(x[1] AS DOUBLE) * x[2]))
               AS dot
        FROM embeddings e CROSS JOIN planes p)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p
                         ELSE 0 END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
"""


def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket per embedding — the scale path for
    ANN (bucket-join instead of brute force).  Oracle-backed: the plane
    constants are shared via parquet and DuckDB re-derives the dots and
    sign packing from scratch."""
    from .operators.textops import embedding_lsh_key
    _ensure_lsh_planes()
    emb = _read(spark, sf_dir, "embeddings")
    return emb.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      embedding_lsh_key(F.col("embedding"))
                      .cast("bigint").alias("bucket"))

def hw_distance_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Infix (HW) distances over UNTRUNCATED targets.  Oracle-checked:
    _SQL_HW_DOCUMENTS runs the full O(|q|·|t|) free-start Levenshtein
    DP as a recursive CTE (cells-as-rows, one target column per
    iteration), so no substring expansion and no truncation are
    needed — an exact cross-engine recomputation of the semi-global
    kernel (edlib.cpp:532-704, mode HW) at full document length."""
    return _distance_of(
        _doc_pairs(spark, sf_dir, F.substring("text", 10, 40)), "HW")


def scored_pairs_hw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Infix (HW) linkage through the REAL operators.scoring.score_pairs
    surface: a 40-char needle cut from each document is scored against
    the next document's text (first 400 chars) with mode="HW" and the
    linkage threshold k = ceil(TAU * max_len).  Every pair has
    len_a << len_b, so the NW two-sided length prune
    (|len_a - len_b| <= k) would wrongly drop ALL of them — the
    reference scopes that shortcut to NW (edlib.cpp:744-747, inside
    myersCalcEditDistanceNW); this query pins the mode-correct
    one-sided prune (len_a - len_b <= k) at the graded surface.
    Oracle: the free-start Levenshtein DP (_sql_hw_dp) with the same
    prune, k truncation, and norm_distance projection."""
    docs = _read(spark, sf_dir, "documents")
    needles = docs.select(
        F.concat(F.lit("q"), F.col("doc_id").cast("string"))
         .alias("conv_id"),
        F.substring("text", 10, 40).alias("full_text"))
    targets = docs.select(
        F.concat(F.lit("t"), F.col("doc_id").cast("string"))
         .alias("conv_id"),
        F.substring("text", 1, 400).alias("full_text"))
    canon = (needles.unionByName(targets)
             .withColumn("text_len", F.length("full_text")))
    # needle of doc i vs target of doc i+1; the inner join inside
    # score_pairs drops the last doc's pair (no such target) exactly
    # like the oracle's b.doc_id = a.doc_id + 1 join
    pairs = docs.select(
        F.concat(F.lit("q"), F.col("doc_id").cast("string")).alias("id_a"),
        F.concat(F.lit("t"), (F.col("doc_id") + 1).cast("string"))
         .alias("id_b"))
    return (score_pairs(pairs, canon, tau=TAU, mode="HW")
            .select("id_a", "id_b",
                    F.col("len_a").cast("bigint").alias("len_a"),
                    F.col("len_b").cast("bigint").alias("len_b"),
                    F.col("edit_distance").cast("bigint")
                     .alias("edit_distance"),
                    "norm_distance"))


def shw_distance_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHW (prefix) distances over UNTRUNCATED targets.  Oracle-checked
    via a length-bound argument: lev(q, t[:j]) >= j - |q| and the empty
    prefix already achieves |q|, so prefixes longer than 2|q| can never
    improve the minimum — the untruncated SHW distance equals the min
    over only the first 2|q| prefixes, which DuckDB evaluates directly
    (_SQL_SHW_DOCUMENTS)."""
    return _distance_of(
        _doc_pairs(spark, sf_dir, F.substring("text", 1, 40)), "SHW")


def shw_distance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHW (prefix) mode WITH an exact oracle: SHW distance is
    min over j of levenshtein(query, target[:j]), which DuckDB can
    evaluate directly on truncated targets — exact cross-engine check
    of the semi-global kernel (edlib.cpp:532-704, mode SHW)."""
    return _distance_of(
        _doc_pairs(spark, sf_dir, F.substring("text", 1, 30),
                   F.substring("text", 1, 120)), "SHW")


_SQL_SHW_EXACT = """
    WITH p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text[1:30] AS ta, b.text[1:120] AS tb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(list_min(list_transform(
                    range(0, length(tb) + 1),
                    j -> levenshtein(ta, tb[1:j]))) AS BIGINT)
               AS edit_distance
    FROM p
"""


def hw_distance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HW (infix) mode WITH an exact oracle: HW distance is the min of
    levenshtein(query, t[i..j]) over every substring of the target —
    both start and end are free (edlib.cpp:532-704, mode HW).  Targets
    are truncated to keep the oracle's O(|t|^2) substring expansion
    affordable; the untruncated variant stays in
    ``hw_distance_documents`` (pinned by reference-binary parity)."""
    return _distance_of(
        _doc_pairs(spark, sf_dir, F.substring("text", 10, 25),
                   F.substring("text", 1, 80)), "HW")


_SQL_HW_EXACT = """
    WITH p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text[10:34] AS ta, b.text[1:80] AS tb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(list_min(flatten(list_transform(
                    range(0, length(tb) + 1),
                    i -> list_transform(
                        range(i, length(tb) + 1),
                        j -> levenshtein(ta, tb[i + 1:j]))))) AS BIGINT)
               AS edit_distance
    FROM p
"""


# SHW over untruncated targets: lev(q, t[:j]) >= j - |q|, and j = 0 already
# achieves |q|, so prefixes with j > 2|q| cannot change the minimum.
_SQL_SHW_DOCUMENTS = """
    WITH p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text[1:40] AS ta, b.text AS tb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(list_min(list_transform(
                    range(0, least(length(tb), 2 * length(ta)) + 1),
                    j -> levenshtein(ta, tb[1:j]))) AS BIGINT)
               AS edit_distance
    FROM p
"""


def _sql_hw_dp(pair_cte: str, final_select: str) -> str:
    """Recursive-CTE free-start (HW) Levenshtein DP, untruncated.

    Cells-as-rows formulation: one row per (pair, query position i),
    one recursion step per target column c.  The intra-column
    dependency new[i] = min(new[i-1]+1, ...) is resolved with the
    classic two-pass rewrite: E[i] = min(old[i]+1, old[i-1]+subst)
    has no intra-column term, and new[i] = i + min(0, min_{k<=i}
    (E[k]-k)) — a vectorized running window-min instead of a scalar
    scan.  ``dcol`` exposes D(c) = min over window starts of
    lev(q, t[..c]) for every column c (c = 0 is the empty window),
    which is everything HW distance AND the end-location set need.
    O(|q|·|t|) total work — full document length, no truncation."""
    return f"""
    WITH RECURSIVE p AS ({pair_cte}),
    cells AS (
        SELECT id_a, id_b, ta, tb, q, unnest(range(0, q + 1)) AS i
        FROM p),
    dp AS (
        SELECT id_a, id_b, ta, tb, q, i, 0 AS c, CAST(i AS BIGINT) AS v
        FROM cells
        UNION ALL
        SELECT id_a, id_b, ta, tb, q, i, c + 1,
               CASE WHEN i = 0 THEN 0
                    ELSE i + least(0, min(e - i) OVER
                           (PARTITION BY id_a ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
               END AS v
        FROM (
            SELECT id_a, id_b, ta, tb, q, i, c, v,
                   CASE WHEN i = 0 THEN NULL
                        ELSE least(v + 1,
                                   lag(v) OVER (PARTITION BY id_a
                                                ORDER BY i)
                                   + CASE WHEN ta[i:i] = tb[c + 1:c + 1]
                                          THEN 0 ELSE 1 END)
                   END AS e
            FROM dp WHERE c < length(tb))),
    dcol AS (
        SELECT id_a, id_b, ta, tb, q, c, v AS d
        FROM dp WHERE i = q)
    {final_select}
"""


_SQL_HW_DOCUMENTS = _sql_hw_dp(
    """
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text[10:49] AS ta, b.text AS tb,
               length(a.text[10:49]) AS q
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""",
    """
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(min(d) AS BIGINT) AS edit_distance
    FROM dcol GROUP BY id_a, id_b
""")


# scored_pairs_hw oracle: the same free-start DP, then the scorer's
# exact projection — the mode-correct one-sided prune
# (len_a - len_b <= k, vacuously true here but kept for byte-equal
# semantics), k-truncation to -1, and norm_distance = d / max_len
# (NULL when truncated; denominator 1 when both sides are empty,
# mirroring functions/alignment.norm_distance exactly).  One double
# division of exact ints, so Spark and DuckDB agree bit-for-bit.
_SQL_SCORED_HW = _sql_hw_dp(
    """
        SELECT 'q' || CAST(a.doc_id AS VARCHAR) AS id_a,
               't' || CAST(b.doc_id AS VARCHAR) AS id_b,
               a.text[10:49] AS ta, b.text[1:400] AS tb,
               length(a.text[10:49]) AS q
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""",
    f"""
    , best AS (
        SELECT id_a, id_b,
               any_value(q) AS len_a,
               length(any_value(tb)) AS len_b,
               min(d) AS d
        FROM dcol GROUP BY id_a, id_b),
    proj AS (
        SELECT *, CAST(ceil({TAU} * greatest(len_a, len_b)) AS INT) AS k
        FROM best)
    SELECT id_a, id_b,
           CAST(len_a AS BIGINT) AS len_a,
           CAST(len_b AS BIGINT) AS len_b,
           CAST(CASE WHEN d <= k THEN d ELSE -1 END AS BIGINT)
               AS edit_distance,
           CASE WHEN d <= k
                THEN CAST(d AS DOUBLE) /
                     CASE WHEN greatest(len_a, len_b) > 0
                          THEN greatest(len_a, len_b) ELSE 1 END
                ELSE NULL END AS norm_distance
    FROM proj
    WHERE len_a - len_b <= k
""")


# End-location SET + tie-broken first location over the same DP:
# ends are the columns achieving the best D(c); the reference prepends
# the empty-window end -1 when best == qlen and the last block has
# padding (qlen % 64 != 0, edlib.cpp:680-693); first_start is the
# SMALLEST start achieving best at first_end (the reversed-SHW
# "last position" rule — probed against kernel.align on 340 random
# cases), searchable over only the starts within q + best of the end
# because longer windows cannot reach best.
_SQL_HW_LOCATIONS_DOCUMENTS = _sql_hw_dp(
    """
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text[20:44] AS ta, b.text[1:300] AS tb,
               length(a.text[20:44]) AS q
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE b.doc_id < 100""",
    """
    , b1 AS (
        SELECT id_a, min(d) AS best FROM dcol GROUP BY id_a),
    ends AS (
        SELECT d.id_a, d.id_b, any_value(d.ta) AS ta,
               any_value(d.tb) AS tb, any_value(d.q) AS q, b1.best,
               min(CASE WHEN d.c >= 1 AND d.d = b1.best
                        THEN d.c - 1 END) AS min_end,
               count(*) FILTER (WHERE d.c >= 1 AND d.d = b1.best)
                   AS n_pos
        FROM dcol d JOIN b1 USING (id_a)
        GROUP BY d.id_a, d.id_b, b1.best),
    loc AS (
        SELECT id_a, id_b, ta, tb, q, best,
               n_pos + CASE WHEN best = q AND q % 64 <> 0
                            THEN 1 ELSE 0 END AS n_locations,
               CASE WHEN best = q AND q % 64 <> 0 THEN -1
                    ELSE min_end END AS first_end
        FROM ends)
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(best AS BIGINT) AS edit_distance,
           CAST(n_locations AS BIGINT) AS n_locations,
           CAST(CASE WHEN first_end = -1 THEN 0
                     ELSE list_min(list_filter(
                            range(greatest(0, first_end + 1 - (q + best)),
                                  first_end + 2),
                            i -> levenshtein(ta, tb[i + 1:first_end + 1])
                                 = best))
                END AS BIGINT) AS first_start,
           CAST(first_end AS BIGINT) AS first_end
    FROM loc
""")


def equality_align_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom equality pairs (the reference's EdlibEqualityPair,
    edlib.h:92-95): case-folding equivalences supplied to the aligner
    instead of preprocessing the text.  Runs through the BATCHED kernel
    (equality-aware Peq planes, single Arrow boundary, no per-row
    Python).  Oracle: the 26 (lower, upper) pairs form exactly the
    kernel of upper(), so the equality-aware NW distance equals
    levenshtein(upper(a), upper(b)).  Non-equivalence relations
    ('N'~'A' without 'A'~'C') have no such SQL reduction; those are
    pinned by the reference-binary parity suite."""
    eqs = [(chr(c), chr(c).upper()) for c in range(ord("a"), ord("z") + 1)]
    pairs = _doc_pairs(spark, sf_dir, F.upper(F.substring("text", 1, 60)),
                       F.substring("text", 1, 60))
    return _distance_of(pairs, "NW", extra=("text_a",),
                        additional_equalities=eqs)


# ASCII-only oracle: the 26 (a-z, A-Z) equality pairs equal
# upper()+levenshtein only for ASCII text — Unicode case folding
# ('ß'->'SS') and DuckDB's byte-based levenshtein both diverge on
# non-ASCII input.  Guarded by the fixture-ASCII invariant test.
_SQL_EQUALITY_ALIGN = """
    SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(b.doc_id AS BIGINT) AS id_b,
           upper(a.text[1:60]) AS text_a,
           CAST(levenshtein(upper(a.text[1:60]), upper(b.text[1:60]))
                AS BIGINT) AS edit_distance
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


def _ensure_fasta(sf_dir: str) -> str:
    """Deterministic multi-sequence FASTA derived from ``documents``
    (header = doc_id, sequence = text with spaces and '>' replaced by
    '_', wrapped at 60 chars).  The space substitution keeps line-wrap
    + trim reassembly byte-exact (FASTA line handling strips edge
    whitespace); the '>' substitution prevents a wrapped line that
    happens to start with '>' from being misparsed as a header.  Both
    are mirrored in _SQL_FASTA_ALIGN so the oracle sees the identical
    sequences."""
    import pyarrow.parquet as pq

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(DATA_DIR, f"docs_{tag}.fasta")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    src = os.path.join(sf_dir, "documents.parquet")
    stale = (os.path.exists(path)
             and os.path.getmtime(path) < os.path.getmtime(src))
    if not os.path.exists(path) or stale:
        t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"])
        rows = sorted(zip(t.column("doc_id").to_pylist(),
                          t.column("text").to_pylist()))
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            for doc_id, text in rows:
                seq = (text or "").replace(" ", "_").replace(">", "_")
                fh.write(f">{doc_id}\n")
                for i in range(0, max(len(seq), 1), 60):
                    fh.write(seq[i:i + 60] + "\n")
        os.replace(tmp, path)
    return path


def fasta_align_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference CLI's primary flow — FASTA in, alignment scores out
    (apps/aligner/aligner.cpp:285-328 readFastaSequences + the align
    loop) — as a Spark job: the FASTA source connector parses the file
    (line-wrap reassembly, header indexing), adjacent sequences pair up,
    and the batched NW kernel scores them.  Oracle: DuckDB rebuilds the
    identical sequences from ``documents`` (space -> '_') and runs
    levenshtein, so the check covers the CONNECTOR round trip and the
    kernel in one query."""
    from .sources.fasta import read_fasta
    path = _ensure_fasta(sf_dir)
    seqs = (read_fasta(spark, path)
            .select(F.col("header").cast("bigint").alias("id"),
                    F.substring("sequence", 1, 120).alias("seq")))
    pairs = _adjacent_pairs(seqs, F.col("seq"), F.col("seq"), "id")
    return _distance_of(pairs, "NW", extra=(
        F.length("text_a").cast("bigint").alias("len_a"),))


_SQL_FASTA_ALIGN = """
    WITH s AS (
        SELECT doc_id,
               replace(replace(text, ' ', '_'), '>', '_')[1:120] AS seq
        FROM documents)
    SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(b.doc_id AS BIGINT) AS id_b,
           CAST(length(a.seq) AS BIGINT) AS len_a,
           CAST(levenshtein(a.seq, b.seq) AS BIGINT) AS edit_distance
    FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
"""


def hw_locations_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HW end-location SET with an exact oracle: the DP column minimum
    D(c) = min over starts of lev(q, t[i..c]) is SQL-expressible on
    truncated targets, so the oracle recomputes the full set of best
    end positions — including the reference's empty-window end -1,
    reported when best == qlen and the last block has padding
    (qlen % 64 != 0; here qlen = 25).  first_start is omitted: the
    reversed-SHW start search has no SQL analogue (it stays pinned by
    reference-binary parity in ``hw_locations_documents``).  Both sides
    guard out degenerate windows (query/target slices that would be
    empty): the kernel's empty-input short-circuit reports a single -1
    location while the column-min formulation counts every column — a
    location-semantics divergence that only empty inputs exhibit."""
    # a non-empty slice from position 20 <=> length(text) >= 20
    pairs = _doc_pairs(spark, sf_dir, F.substring("text", 20, 25),
                       F.substring("text", 1, 80))
    res = align_expr(F.col("text_a"), F.col("text_b"), mode="HW",
                     task="locations")
    joined = (pairs.where((F.col("id_b") < 100)
                          & (F.length("text_a") > 0)
                          & (F.length("text_b") > 0))
              .select("id_a", "id_b", res.alias("r")))
    return joined.select(
        "id_a", "id_b",
        F.col("r.editDistance").cast("bigint").alias("edit_distance"),
        F.size("r.locations").cast("bigint").alias("n_locations"),
        F.col("r.locations").getItem(0).getField("end")
        .cast("bigint").alias("first_end"))


_SQL_HW_LOCATIONS_EXACT = """
    WITH p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text[20:44] AS ta, b.text[1:80] AS tb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE b.doc_id < 100
          AND length(a.text) >= 20 AND length(b.text) >= 1),
    d AS (
        SELECT id_a, id_b, length(ta) AS qlen,
               list_transform(range(1, length(tb) + 1),
                   c -> list_min(list_transform(range(0, c + 1),
                        i -> levenshtein(ta, tb[i + 1:c])))) AS dcol
        FROM p),
    s AS (
        SELECT id_a, id_b, qlen, dcol, list_min(dcol) AS best FROM d)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(best AS BIGINT) AS edit_distance,
           CAST(len(list_filter(range(1, len(dcol) + 1),
                                c -> dcol[c] = best))
                + CASE WHEN best = qlen THEN 1 ELSE 0 END AS BIGINT)
               AS n_locations,
           CAST(CASE WHEN best = qlen THEN -1
                     ELSE list_position(dcol, best) - 1 END AS BIGINT)
               AS first_end
    FROM s
"""


def hw_locations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HW infix search exposing the full end-location SET (the
    reference returns ALL best end positions, edlib.cpp:657-674) and
    the reversed-SHW start locations.  Oracle-checked: the recursive-
    CTE DP (_SQL_HW_LOCATIONS_DOCUMENTS) recomputes D(c) for every
    column, hence the full end set including the -1 empty-window edge,
    and re-derives first_start as the minimal start achieving the best
    distance at first_end (the reference's reversed-SHW tie-break)."""
    pairs = _doc_pairs(spark, sf_dir, F.substring("text", 20, 25),
                       F.substring("text", 1, 300))
    res = align_expr(F.col("text_a"), F.col("text_b"), mode="HW",
                     task="locations")
    joined = (pairs.where(F.col("id_b") < 100)
              .select("id_a", "id_b", res.alias("r")))
    return joined.select(
        "id_a", "id_b",
        F.col("r.editDistance").cast("bigint").alias("edit_distance"),
        F.size("r.locations").cast("bigint").alias("n_locations"),
        F.col("r.locations").getItem(0).getField("start")
        .cast("bigint").alias("first_start"),
        F.col("r.locations").getItem(0).getField("end")
        .cast("bigint").alias("first_end"))


_NICE_CIGARS_PATH = os.path.join(DATA_DIR, "nice_cigars_current.parquet")
_PATH_CIGARS_PATH = os.path.join(DATA_DIR, "path_cigars_current.parquet")


def _sql_cigar_replay(pairs_sql: str, side_path: str,
                      final_select: str) -> str:
    """Certificate-style oracle for CIGAR-producing queries.

    A CIGAR string is a traceback artifact with no closed-form SQL
    derivation, but its *correctness* has one: a CIGAR is a valid
    optimal alignment iff (a) every '=' run copies identical substrings
    and every 'X' run covers only differing positions, (b) the run
    lengths consume exactly the two inputs, and (c) its cost (X+I+D)
    equals levenshtein(query, target).  So the Spark-computed CIGAR is
    shared via a side table (the established token-hash convention) and
    DuckDB independently REPLAYS it against the raw texts, emitting the
    CIGAR only when the full validity+optimality certificate holds and
    a poison value otherwise — any invalid or suboptimal path
    hash-mismatches.  The one degree of freedom left unchecked (WHICH
    optimal path, when several exist) is exactly what the
    compiled-reference parity suite pins byte-exactly
    (tests/test_reference_parity.py).

    `pairs_sql` must yield pairs(id_a, id_b, text_a, text_b, lead_ctx)
    where `lead_ctx` is the number of target characters BEFORE the
    aligned window (0 for NW, where the window is the whole target);
    `final_select` projects from pairs p, side table c, and the
    per-pair certificate/rendering aggregate ch (runs_ok, first_op,
    q_used, t_used, cost, query_aligned, matched_aligned,
    target_aligned).

    Besides validity+optimality, the certificate pins the reference's
    path-preference rule (test/runTests.cpp:636-639): an alignment may
    not OPEN with an insertion while target context precedes the
    window (lead_ctx > 0), because extending the window one char left
    turns that insertion into an equal-cost mismatch — the reference
    always prefers the mismatch.  For the NW contract queries
    lead_ctx = 0 makes the clause structurally satisfied (NW has no
    free start), so the rule is load-bearing for any free-start
    (HW-style) pairs routed through this certificate — exercised by
    tests/test_cigar_oracle.py::test_leading_insertion_preference."""
    return f"""
    WITH pairs AS ({pairs_sql}),
    pc AS (
        SELECT id_a, id_b, cigar FROM read_parquet('{side_path}/*.parquet')
    ), runs0 AS (
        SELECT p.id_a, p.id_b, p.text_a, p.text_b,
               regexp_extract_all(c.cigar, '\\d+[=XID]') AS rlist
        FROM pairs p JOIN pc c USING (id_a, id_b)
    ), runs AS (
        SELECT id_a, id_b, text_a, text_b,
               unnest(rlist) AS run,
               unnest(range(1, len(rlist) + 1)) AS idx
        FROM runs0
    ), ops AS (
        SELECT *, CAST(rtrim(run, '=XID') AS BIGINT) AS rl,
               right(run, 1) AS op
        FROM runs
    ), offs AS (
        SELECT *,
            CAST(COALESCE(SUM(CASE WHEN op IN ('=','X','I') THEN rl END)
                OVER (PARTITION BY id_a, id_b ORDER BY idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS q_off,
            CAST(COALESCE(SUM(CASE WHEN op IN ('=','X','D') THEN rl END)
                OVER (PARTITION BY id_a, id_b ORDER BY idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS t_off
        FROM ops
    ), segs AS (
        SELECT *,
            substr(text_a, q_off + 1, rl) AS qs,
            substr(text_b, t_off + 1, rl) AS ts,
            CASE WHEN op = 'D' THEN repeat('-', rl)
                 ELSE substr(text_a, q_off + 1, rl) END AS q_seg,
            CASE WHEN op = 'I' THEN repeat('-', rl)
                 ELSE substr(text_b, t_off + 1, rl) END AS t_seg,
            CASE op WHEN '=' THEN repeat('|', rl)
                    WHEN 'X' THEN repeat('.', rl)
                    ELSE repeat('-', rl) END AS m_seg
        FROM offs
    ), checked AS (
        SELECT id_a, id_b,
            bool_and(CASE
                WHEN op = 'I' THEN length(qs) = rl
                WHEN op = 'D' THEN length(ts) = rl
                WHEN length(qs) <> rl OR length(ts) <> rl THEN FALSE
                WHEN op = '=' THEN qs = ts
                ELSE mismatches(qs, ts) = rl END) AS runs_ok,
            arg_min(op, idx) AS first_op,
            SUM(CASE WHEN op IN ('=','X','I') THEN rl ELSE 0 END) AS q_used,
            SUM(CASE WHEN op IN ('=','X','D') THEN rl ELSE 0 END) AS t_used,
            SUM(CASE WHEN op IN ('X','I','D') THEN rl ELSE 0 END) AS cost,
            string_agg(q_seg, '' ORDER BY idx) AS query_aligned,
            string_agg(m_seg, '' ORDER BY idx) AS matched_aligned,
            string_agg(t_seg, '' ORDER BY idx) AS target_aligned
        FROM segs GROUP BY id_a, id_b
    )
    {final_select}
    """


# The certificate condition shared by both CIGAR oracles (see
# _sql_cigar_replay): replayed runs valid, both inputs fully consumed,
# cost optimal, and the reference's start-preference rule (no opening
# insertion while target context precedes the window,
# test/runTests.cpp:636-639 — structurally satisfied when lead_ctx=0).
_SQL_CIGAR_VALID = """ch.runs_ok AND ch.q_used = length(p.text_a)
                 AND ch.t_used = length(p.text_b)
                 AND ch.cost = levenshtein(p.text_a, p.text_b)
                 AND NOT (ch.first_op = 'I' AND p.lead_ctx > 0)"""


def _sql_cigar_pairs(max_id: int, head: int | None = None) -> str:
    """The NW pairs of the CIGAR certificates: adjacent documents with
    id_b < ``max_id``, both texts cut to their first ``head`` chars
    when given, lead_ctx = 0."""
    ta, tb = ((f"substr(a.text, 1, {head})", f"substr(b.text, 1, {head})")
              if head else ("a.text", "b.text"))
    return f"""
        SELECT CAST(a.doc_id AS BIGINT) AS id_a,
               CAST(b.doc_id AS BIGINT) AS id_b,
               {ta} AS text_a, {tb} AS text_b,
               CAST(0 AS BIGINT) AS lead_ctx
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE b.doc_id < {max_id}
"""


_SQL_NICE_ALIGNMENT = _sql_cigar_replay(
    _sql_cigar_pairs(30, head=80), _NICE_CIGARS_PATH, f"""
    SELECT p.id_a, p.id_b,
           CASE WHEN {_SQL_CIGAR_VALID}
                THEN c.cigar ELSE '!invalid' END AS cigar,
           ch.query_aligned, ch.matched_aligned, ch.target_aligned
    FROM pairs p JOIN pc c USING (id_a, id_b)
    JOIN checked ch USING (id_a, id_b)""")

_SQL_PATH_PAIRS = _sql_cigar_pairs(50)

_SQL_ALIGN_PATH = _sql_cigar_replay(
    _SQL_PATH_PAIRS, _PATH_CIGARS_PATH, f"""
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(p.text_a, p.text_b) AS BIGINT)
               AS edit_distance,
           CASE WHEN {_SQL_CIGAR_VALID}
                THEN c.cigar ELSE '!invalid' END AS cigar,
           CAST(length(p.text_b) - 1 AS BIGINT) AS end_location
    FROM pairs p JOIN pc c USING (id_a, id_b)
    JOIN checked ch USING (id_a, id_b)""")


def nice_alignment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getNiceAlignment rendering (edlib.pyx:158-238) over a few
    adjacent doc pairs.  Oracle-backed (certificate style,
    _sql_cigar_replay): the Spark CIGAR is shared via a side table,
    DuckDB replays it for validity+optimality and re-derives all three
    aligned renderings from the CIGAR in pure SQL — the rendering math
    of this query is fully SQL-checked."""
    from .functions.alignment import nice_alignment
    head = F.substring("text", 1, 80)
    res = align_expr(F.col("text_a"), F.col("text_b"), mode="NW",
                     task="path")
    joined = (_doc_pairs(spark, sf_dir, head, head)
              .where(F.col("id_b") < 30)
              .select("id_a", "id_b", "text_a", "text_b", res.alias("r")))
    nice = nice_alignment(F.col("r"), F.col("text_a"), F.col("text_b"))
    out = (joined.select(
        "id_a", "id_b",
        F.col("r.cigar").alias("cigar"),
        nice.getField("query_aligned").alias("query_aligned"),
        nice.getField("matched_aligned").alias("matched_aligned"),
        nice.getField("target_aligned").alias("target_aligned")))
    _ensure_side_table(sf_dir, _NICE_CIGARS_PATH,
                       lambda: out.select("id_a", "id_b", "cigar"))
    return out


def align_path_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full alignment results (locations + CIGAR) for adjacent doc pairs
    (task='path').  Oracle-backed (certificate style, _sql_cigar_replay):
    the CIGAR itself rides a side table while DuckDB independently
    verifies it is a valid optimal path and re-derives distance and NW
    end location."""
    joined = _doc_pairs(spark, sf_dir).where(F.col("id_b") < 50)
    res = align_expr(F.col("text_a"), F.col("text_b"), mode="NW",
                     task="path")
    out = (joined.select("id_a", "id_b", res.alias("r"))
           .select("id_a", "id_b",
                   F.col("r.editDistance").cast("bigint")
                    .alias("edit_distance"),
                   F.col("r.cigar").alias("cigar"),
                   F.col("r.locations").getItem(0).getField("end")
                    .cast("bigint").alias("end_location")))
    _ensure_side_table(sf_dir, _PATH_CIGARS_PATH,
                       lambda: out.select("id_a", "id_b", "cigar"))
    return out


def _cigar_op_sum(op: str) -> Column:
    """Total run length of one CIGAR op over a ``cigar`` column —
    JVM-side regexp_extract_all + left-fold sum (no UDF); pinned on
    golden CIGARs by tests/test_cigar_oracle.py."""
    runs = F.regexp_extract_all("cigar", F.lit(rf"(\d+){op}"), F.lit(1))
    return F.aggregate(F.transform(runs, lambda x: x.cast("bigint")),
                       F.lit(0).cast("bigint"),
                       lambda acc, x: acc + x)


def align_ops_stats_documents(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-pair alignment-operation statistics from the EXTENDED CIGAR
    — the counts a consumer of alignment paths actually aggregates
    (samtools stats / BLAST pident shape): matches, substitutions,
    insertions, deletions, total aligned columns, and the identity
    fraction n_eq / aligned_len.  Parsing is JVM-side
    (regexp_extract_all + a left-fold sum, no UDF) over the same
    adjacent-doc pairs as align_path_documents.  Oracle-backed
    (certificate, _sql_cigar_replay): the CIGAR rides the shared side
    table, DuckDB replays it for validity+optimality against the raw
    texts and re-derives every count from its own parsed runs —
    emitting poison values when the certificate fails, so an invalid
    or suboptimal path can never grade as correct statistics.
    identity_frac is one bigint/bigint IEEE division (guarded for the
    empty-vs-empty pair on BOTH engines)."""
    joined = _doc_pairs(spark, sf_dir).where(F.col("id_b") < 50)
    res = align_expr(F.col("text_a"), F.col("text_b"), mode="NW",
                     task="path")
    out0 = joined.select("id_a", "id_b",
                         res.getField("cigar").alias("cigar"))
    _ensure_side_table(sf_dir, _PATH_CIGARS_PATH,
                       lambda: out0.select("id_a", "id_b", "cigar"))
    counted = out0.select(
        "id_a", "id_b",
        _cigar_op_sum("=").alias("n_eq"), _cigar_op_sum("X").alias("n_sub"),
        _cigar_op_sum("I").alias("n_ins"), _cigar_op_sum("D").alias("n_del"))
    aligned = (F.col("n_eq") + F.col("n_sub") + F.col("n_ins")
               + F.col("n_del"))
    return counted.select(
        "id_a", "id_b", "n_eq", "n_sub", "n_ins", "n_del",
        aligned.cast("bigint").alias("aligned_len"),
        F.when(aligned > 0, F.col("n_eq") / aligned)
         .otherwise(F.lit(1.0)).alias("identity_frac"))


# Ops-stats oracle: replay certificate over the shared CIGAR side
# table (same pairs CTE as align_path), counts re-derived from the
# replay's own parsed runs, poisoned to -1 when the certificate fails.
_SQL_ALIGN_OPS = _sql_cigar_replay(
    _SQL_PATH_PAIRS, _PATH_CIGARS_PATH, f"""
    , opsum AS (
        SELECT id_a, id_b,
               CAST(coalesce(sum(CASE WHEN op = '=' THEN rl END), 0)
                    AS BIGINT) AS n_eq,
               CAST(coalesce(sum(CASE WHEN op = 'X' THEN rl END), 0)
                    AS BIGINT) AS n_sub,
               CAST(coalesce(sum(CASE WHEN op = 'I' THEN rl END), 0)
                    AS BIGINT) AS n_ins,
               CAST(coalesce(sum(CASE WHEN op = 'D' THEN rl END), 0)
                    AS BIGINT) AS n_del
        FROM ops GROUP BY id_a, id_b
    )
    SELECT p.id_a, p.id_b,
           CASE WHEN {_SQL_CIGAR_VALID} THEN o.n_eq
                ELSE CAST(-1 AS BIGINT) END AS n_eq,
           CASE WHEN {_SQL_CIGAR_VALID} THEN o.n_sub
                ELSE CAST(-1 AS BIGINT) END AS n_sub,
           CASE WHEN {_SQL_CIGAR_VALID} THEN o.n_ins
                ELSE CAST(-1 AS BIGINT) END AS n_ins,
           CASE WHEN {_SQL_CIGAR_VALID} THEN o.n_del
                ELSE CAST(-1 AS BIGINT) END AS n_del,
           CASE WHEN {_SQL_CIGAR_VALID}
                THEN o.n_eq + o.n_sub + o.n_ins + o.n_del
                ELSE CAST(-1 AS BIGINT) END AS aligned_len,
           CASE WHEN NOT ({_SQL_CIGAR_VALID}) THEN -1.0
                WHEN o.n_eq + o.n_sub + o.n_ins + o.n_del > 0
                THEN CAST(o.n_eq AS DOUBLE)
                     / (o.n_eq + o.n_sub + o.n_ins + o.n_del)
                ELSE 1.0 END AS identity_frac
    FROM pairs p JOIN pc c USING (id_a, id_b)
    JOIN checked ch USING (id_a, id_b)
    JOIN opsum o USING (id_a, id_b)""")


_PATH_CIGARS_STD_PATH = os.path.join(DATA_DIR,
                                     "path_cigars_std_current.parquet")

# Standard-format oracle: the EXTENDED cigar rides the side table and
# is replayed for validity+optimality exactly like _SQL_ALIGN_PATH;
# the STANDARD form is then re-derived in pure SQL — collapse =/X to M
# and merge adjacent same-op runs (gaps-and-islands on the run index),
# matching the reference CLI's CIG_STD emitter
# (apps/aligner/aligner.cpp:200-221, edlibAlignmentToCigar
# edlib/src/edlib.cpp:303-350).
_SQL_ALIGN_PATH_STD = _sql_cigar_replay(
    _sql_cigar_pairs(40), _PATH_CIGARS_STD_PATH, f"""
    , stdruns AS (
        SELECT id_a, id_b, idx, rl,
               CASE WHEN op IN ('=', 'X') THEN 'M' ELSE op END AS op_std,
               idx - ROW_NUMBER() OVER (
                   PARTITION BY id_a, id_b,
                       CASE WHEN op IN ('=', 'X') THEN 'M' ELSE op END
                   ORDER BY idx) AS isl
        FROM ops
    ), merged AS (
        SELECT id_a, id_b, op_std,
               CAST(SUM(rl) AS BIGINT) AS rl_std, MIN(idx) AS i0
        FROM stdruns GROUP BY id_a, id_b, op_std, isl
    ), stdc AS (
        SELECT id_a, id_b,
               string_agg(CAST(rl_std AS VARCHAR) || op_std, ''
                          ORDER BY i0) AS cigar_std
        FROM merged GROUP BY id_a, id_b
    )
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(p.text_a, p.text_b) AS BIGINT)
               AS edit_distance,
           CASE WHEN {_SQL_CIGAR_VALID}
                THEN s.cigar_std ELSE '!invalid' END AS cigar_std
    FROM pairs p JOIN pc c USING (id_a, id_b)
    JOIN checked ch USING (id_a, id_b)
    JOIN stdc s USING (id_a, id_b)""")


def align_path_std_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STANDARD-format CIGAR (M/I/D — the reference CLI's -f CIG_STD
    switch, apps/aligner/aligner.cpp:200-221) through the align_expr
    surface.  Oracle-backed (certificate, _SQL_ALIGN_PATH_STD): the
    extended cigar for the same pairs rides the side table, DuckDB
    replays it for validity+optimality against the raw texts, then
    re-derives the standard collapse in SQL — so Spark's standard
    formatting is checked against an independently verified optimal
    path, not against itself."""
    joined = _doc_pairs(spark, sf_dir).where(F.col("id_b") < 40)
    res_std = align_expr(F.col("text_a"), F.col("text_b"), mode="NW",
                         task="path", cigar_format="standard")
    res_ext = align_expr(F.col("text_a"), F.col("text_b"), mode="NW",
                         task="path")
    out = joined.select("id_a", "id_b", res_std.alias("r"),
                        res_ext.getField("cigar").alias("cigar_ext"))
    _ensure_side_table(
        sf_dir, _PATH_CIGARS_STD_PATH,
        lambda: out.select("id_a", "id_b",
                           F.col("cigar_ext").alias("cigar")))
    return out.select("id_a", "id_b",
                      F.col("r.editDistance").cast("bigint")
                       .alias("edit_distance"),
                      F.col("r.cigar").alias("cigar_std"))


_GRAM_HASHES_PATH = os.path.join(DATA_DIR, "gram_hashes_current.parquet")


def _ensure_gram_hashes(spark: SparkSession, sf_dir: str,
                        ngram: int = 5) -> None:
    """Materialize per-char-n-gram xxhash64 (mod p) values for
    ``documents`` — the only non-SQL-derivable input of the MinHash
    blocking keys.  DuckDB re-derives the affine permutations, per-
    permutation minima, and band-tuple keys itself."""
    from .operators.blocking import base_gram_hashes

    def build():
        docs = _read(spark, sf_dir, "documents")
        return docs.select(F.col("doc_id").cast("string").alias("conv_id"),
                           F.explode_outer(base_gram_hashes(F.col("text"),
                                                            ngram))
                           .alias("h"))

    _ensure_side_table(sf_dir, _GRAM_HASHES_PATH, build)


def _sql_minhash_blocks() -> str:
    """MinHash band keys rebuilt from the shared gram hashes: the 16
    affine permutation coefficients (seeded, public) are embedded as
    literals; DuckDB recomputes min((a*h + b) % p) per permutation and
    renders the exact band tuples — matching minhash_blocks' collision-
    free key encoding."""
    from .operators.blocking import _P, _minhash_coeffs

    coeffs = _minhash_coeffs(_MB_MH_HASHES, 42)
    coef_rows = ", ".join(f"({i}, {a}, {b})"
                          for i, (a, b) in enumerate(coeffs))
    rows = _MB_MH_HASHES // _MB_MH_BANDS
    band_vals = ", ".join(f"({i})" for i in range(_MB_MH_BANDS))
    return f"""
    WITH gh AS (SELECT conv_id, h
                FROM read_parquet('{_GRAM_HASHES_PATH}/*.parquet')),
    coef(i, a, b) AS (VALUES {coef_rows}),
    mins AS (
        SELECT gh.conv_id, c.i,
               min((gh.h * c.a + c.b) % {_P}) AS mv
        FROM gh CROSS JOIN coef c
        WHERE gh.h IS NOT NULL
        GROUP BY gh.conv_id, c.i),
    sig AS (SELECT conv_id, list(mv ORDER BY i) AS sg
            FROM mins GROUP BY conv_id),
    bands(bi) AS (VALUES {band_vals})
    SELECT conv_id,
           'mh' || bi || ':' ||
           array_to_string(list_transform(
               list_slice(sg, bi * {rows} + 1, bi * {rows} + {rows}),
               x -> CAST(x AS VARCHAR)), ',') AS block_key
    FROM sig CROSS JOIN bands
    """


def minhash_blocks_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH blocking keys over documents.  Oracle-backed via the
    shared gram-hash parquet: DuckDB re-derives the permutations,
    minima, and band tuples (see _sql_minhash_blocks)."""
    _ensure_gram_hashes(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    canon = docs.select(F.col("doc_id").cast("string").alias("conv_id"),
                        F.col("text").alias("full_text"))
    return minhash_blocks(canon, num_hashes=_MB_MH_HASHES,
                          bands=_MB_MH_BANDS)


# ---------------------------------------------------------------------------
# near-duplicate detection (dedup family)
# ---------------------------------------------------------------------------

def doc_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact char-5-gram Jaccard >= 0.8
    verification; oracle = exhaustive all-pairs Jaccard in SQL.

    Known epistemic gap (accepted): LSH candidate recall is
    probabilistic — miss probability (1 - j^4)^8 ~ 2e-4 per true pair
    at j=0.9 — while the oracle is exhaustive, so on REGENERATED data a
    single unlucky pair could fail the gate even though the engine
    behaves as designed.  The gate's sf datasets are fixed
    driver-generated parquet on which recall is verified complete; at
    deployment scale the miss rate is the documented LSH design knob
    (bands x rows), not a bug."""
    from .operators.dedup import minhash_neardup_pairs
    docs = _read(spark, sf_dir, "documents")
    return minhash_neardup_pairs(docs, num_hashes=32, bands=8, ngram=5,
                                 tau_pct=80)


def _sql_minhash_neardup(stratum: str = "TRUE") -> str:
    """``stratum``: extra pair predicate over (a.doc_id, b.doc_id) —
    tools/cross_scale_check.py samples the all-pairs oracle down to a
    deterministic md5 stratum at sf0.1."""
    return f"""
    WITH {_sql_gram_sets()}
    {_sql_jaccard_edges("sh", stratum)}
"""


def _neardup_clusters_of(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """CC assignment (bigint doc_id -> bigint min-member cluster_id)
    from already-built near-dup edges — shared by doc_neardup_clusters,
    its downstream consumers (cluster_audit_documents) and the training
    chain's kept stage, so a composite query can pin the expensive edge
    derivation ONCE instead of re-running the MinHash chain per
    branch."""
    nodes = docs.select(F.col("doc_id").cast("bigint").alias("conv_id"))
    return (cluster_assignments(nodes, edges.select("id_a", "id_b"))
            .select(F.col("conv_id").alias("doc_id"), "cluster_id"))


def doc_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: MinHash+LSH candidates -> exact-Jaccard verify
    -> large-star/small-star connected components -> one cluster id per
    document (min doc_id of its near-dup group).  The ENTIRE pipeline
    is SQL-checked: the oracle recomputes exact all-pairs Jaccard edges
    and closes them with a recursive CTE."""
    docs = _read(spark, sf_dir, "documents")
    return _neardup_clusters_of(docs, doc_minhash_neardup(spark, sf_dir))


def _sql_neardup_clusters(edges_sql: str | None = None) -> str:
    """``edges_sql``: alternative near-dup edge source (see
    _sql_clusters — same certificate pattern for the cross-scale
    check at sf0.1, where the exhaustive all-pairs Jaccard oracle is
    quadratic-infeasible but the closure re-derivation is not)."""
    edges = (edges_sql
             or f"SELECT id_a, id_b FROM ({_sql_minhash_neardup()})")
    return f"""
    WITH RECURSIVE {_sql_closure(edges)}
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(coalesce(comp.root, d.doc_id) AS BIGINT) AS cluster_id
    FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
"""


def doc_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus a training pipeline keeps: one
    representative document per near-dup group (min doc_id), with the
    group size — i.e. the OUTPUT of the MinHash->verify->CC chain."""
    clusters = doc_neardup_clusters(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    reps = (clusters.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
            .select(F.col("cluster_id").alias("doc_id"), "n_members"))
    return (reps.join(docs.select("doc_id", F.length("text")
                                  .cast("bigint").alias("n_chars")),
                      "doc_id")
            .select(F.col("doc_id").cast("bigint").alias("rep_id"),
                    "n_members", "n_chars"))


def _sql_dedup_corpus(edges_sql: str | None = None) -> str:
    return f"""
    WITH c AS ({_sql_neardup_clusters(edges_sql)})
    SELECT CAST(c.cluster_id AS BIGINT) AS rep_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(length(d.text) AS BIGINT) AS n_chars
    FROM c JOIN documents d ON d.doc_id = c.cluster_id
    GROUP BY c.cluster_id, length(d.text)
"""


def _training_quality(docs: DataFrame) -> DataFrame:
    """Stage 1 of the training chain: the quality gate (length +
    stopword evidence) over raw documents — ONE definition shared by
    _training_exact_and_edges and the funnel report so the gate the
    funnel counts is byte-identical to the gate the corpus runs."""
    from .operators.textops import tokens
    toks = tokens(F.col("text"))
    stop_cnt = F.size(F.filter(toks, lambda t: t.isin(*_EN_STOPWORDS)))
    return (docs.select("doc_id", "text",
                        F.length("text").alias("n_chars"),
                        F.size(toks).alias("n_tokens"),
                        stop_cnt.alias("stop_cnt"))
            .where((F.col("n_chars") >= 100) & (F.col("stop_cnt") >= 1)))


def _training_exact_and_edges(spark: SparkSession,
                              sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The quality-gate -> exact-dedup -> MinHash-near-dup front of the
    training-corpus chain, exposed so tools/cross_scale_check.py can
    certify the edge set independently at sf0.1.  Returns (exact,
    edges) where edges carries BIGINT ids."""
    from .operators.dedup import minhash_neardup_pairs
    docs = _read(spark, sf_dir, "documents")
    q = _training_quality(docs)
    # pinned: `exact` feeds the minhash blocker (which scans it twice),
    # the CC node list, and the final stats join — without the pin the
    # tokenize + window-dedup subtree recomputes ~5x
    exact = (q.withColumn("rep",
                          F.min("doc_id").over(Window.partitionBy("text")))
             .where(F.col("doc_id") == F.col("rep")).drop("rep")
             .localCheckpoint(eager=False))
    edges = minhash_neardup_pairs(exact, num_hashes=32, bands=8,
                                  ngram=5, tau_pct=80)
    return exact, edges


def _training_kept(exact: DataFrame, edge_pairs: DataFrame) -> DataFrame:
    """Stage 3 of the training chain: near-dup CC over the verified
    edge set, keep the min-doc_id representative per component.
    Returns a single-column (doc_id BIGINT) frame — shared by
    doc_training_corpus and the funnel report."""
    return (_neardup_clusters_of(exact, edge_pairs)
            .where(F.col("doc_id") == F.col("cluster_id"))
            .select("doc_id"))


def doc_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-construction chain a training-data
    pipeline runs: quality gate (length + stopword evidence) -> exact
    dedup (min doc_id per identical text) -> MinHash near-dup dedup
    (exact-Jaccard-verified, CC, keep representatives) -> kept corpus
    with per-doc stats.  Every stage is the already-graded operator;
    this query grades their COMPOSITION against one SQL oracle."""
    exact, edge_pairs = _training_exact_and_edges(spark, sf_dir)
    kept = _training_kept(exact, edge_pairs)
    return (kept.join(exact, "doc_id")
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("n_chars").cast("bigint").alias("n_chars"),
                    F.col("n_tokens").cast("bigint").alias("n_tokens")))


def _sql_training_stages() -> str:
    """The linear front of the training-corpus oracle (quality gate,
    exact dedup, char-5-gram sets) — shared by the full contract
    oracle and tools/cross_scale_check.py's sampled/certificate
    variants at sf0.1."""
    stop_list = ", ".join(f"'{w}'" for w in _EN_STOPWORDS)
    return f"""q AS (
        SELECT doc_id, text, length(text) AS n_chars,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '')) AS n_tokens,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t IN ({stop_list}))) AS stop_cnt
        FROM documents),
    qf AS (SELECT * FROM q WHERE n_chars >= 100 AND stop_cnt >= 1),
    ex AS (SELECT min(doc_id) AS doc_id FROM qf GROUP BY text),
    exd AS (SELECT qf.* FROM qf JOIN ex USING (doc_id)),
    {_sql_gram_sets("grams", "exd")}"""


def _sql_training_kept(edges_sql: str | None = None) -> str:
    """``WITH RECURSIVE`` head shared by the training-corpus and funnel
    oracles: the linear stages, the near-dup closure over the exact
    all-pairs edges (or ``edges_sql``, the cross-scale certificate
    table), and ``kept`` — the min-doc_id representative of each
    component."""
    edges = (edges_sql
             or f"SELECT id_a, id_b FROM ({_sql_jaccard_edges('grams')})")
    return f"""
    WITH RECURSIVE {_sql_training_stages()},
    {_sql_closure(edges)},
    kept AS (
        SELECT d.doc_id
        FROM exd d LEFT JOIN comp ON d.doc_id = comp.node
        WHERE coalesce(comp.root, d.doc_id) = d.doc_id)"""


def _sql_doc_training_corpus(edges_sql: str | None = None) -> str:
    return f"""{_sql_training_kept(edges_sql)}
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(d.n_chars AS BIGINT) AS n_chars,
           CAST(d.n_tokens AS BIGINT) AS n_tokens
    FROM kept JOIN exd d USING (doc_id)
    """


def training_funnel_documents(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The per-stage retention funnel every production corpus pipeline
    reports (raw -> quality gate -> exact dedup -> near-dup dedup):
    one row per stage with the exact count of documents still alive
    after it.  Each stage is doc_training_corpus's own stage — the
    quality gate via the shared _training_quality, exact dedup and the
    MinHash edge set via _training_exact_and_edges, representatives
    via the shared _training_kept — so the funnel can never report a
    different pipeline than the one that runs.  Scale shape: four
    map-side-combined count aggregates over frames the chain already
    materializes (`exact` is localCheckpoint-pinned inside
    _training_exact_and_edges); nothing quadratic beyond the already
    -graded edge derivation, no collect.  The oracle re-derives every
    stage in SQL (same CTEs as the doc_training_corpus oracle) and
    counts them independently."""
    docs = _read(spark, sf_dir, "documents")
    exact, edge_pairs = _training_exact_and_edges(spark, sf_dir)
    kept = _training_kept(exact, edge_pairs)

    def _stage(df: DataFrame, i: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("c")).select(
            F.lit(i).cast("bigint").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.col("c").cast("bigint").alias("n_docs"))

    return (_stage(docs, 0, "raw")
            .unionByName(_stage(_training_quality(docs), 1, "quality"))
            .unionByName(_stage(exact, 2, "exact_dedup"))
            .unionByName(_stage(kept, 3, "neardup_dedup")))


def _sql_training_funnel(edges_sql: str | None = None) -> str:
    """Funnel oracle: the doc_training_corpus oracle's own stage CTEs
    and kept set (_sql_training_kept) with one count per stage.
    ``edges_sql`` swaps in the certificate edge table at cross-scale,
    exactly as _sql_doc_training_corpus does."""
    return f"""{_sql_training_kept(edges_sql)}
    SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
           CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'quality',
           CAST((SELECT count(*) FROM qf) AS BIGINT)
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'exact_dedup',
           CAST((SELECT count(*) FROM exd) AS BIGINT)
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'neardup_dedup',
           CAST((SELECT count(*) FROM kept) AS BIGINT)
"""


def doc_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 via band-key join; complete
    for hamming <= bands-1).  Oracle-backed via the shared token-hash
    parquet: DuckDB re-derives the SimHash, banding, and Hamming join
    (only the xxhash64 values themselves are Spark-produced)."""
    from .operators.dedup import simhash_neardup_pairs
    _ensure_token_hashes(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, bands=4, max_hamming=3)


def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= 0.45, exact)."""
    from .operators.dedup import cosine_neardup_pairs
    emb = _read(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, threshold=0.45)


_SQL_COSINE_NEARDUP = f"""
    WITH {_SQL_VEC_BASE},
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_sql_cosine("a.v", "b.v")} AS cos
        FROM base a JOIN base b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, round(cos, 4) AS cos_r
    FROM scored WHERE cos >= 0.45
"""


_IVF_CENTROIDS_PATH = os.path.join(DATA_DIR, "ivf_centroids_current.parquet")


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer and multi-cell probing:
    distributed seeded k-means (operators/ann.kmeans_centroids — 4
    Lloyd steps over map-side partial sums, k-lowest-id init) trains
    the 8 centroids; the index stores each vector in its nearest cell
    and each query probes its 2 nearest cells (nprobe=2, the
    recall/latency knob).  The trained centroids ride a side table
    (the shared-constant convention: double summation order is
    partition-dependent, so both engines must read the SAME floats)
    and DuckDB re-derives everything downstream in SQL — assignment,
    the probe set, the cell-pruned join, exact cosine re-rank, top-5."""
    from .operators.ann import assign_cells
    from .operators.dedup import cosine as cosine_expr
    base, cents = _ivf_base(spark, sf_dir)
    queries = (assign_cells(base.where(F.col("vec_id") < 10), cents,
                            nprobe=2)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("q"), "cent_id"))
    neighbors = (assign_cells(base.where(F.col("vec_id") >= 10), cents)
                 .select(F.col("vec_id").alias("neighbor_id"),
                         F.col("v").alias("n"), "cent_id"))
    return _top5(queries.join(neighbors, "cent_id").select(
        "query_id", "neighbor_id",
        cosine_expr(F.col("q"), F.col("n")).alias("cos")), "cos")


def _ivf_base(spark: SparkSession,
              sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(base, cents): the double vectors and the trained coarse
    centroids, written once per sf_dir to the side table the IVF and
    IVF-PQ oracles read."""
    from .operators.ann import kmeans_centroids
    base = _vectors(spark, sf_dir)
    _ensure_side_table(sf_dir, _IVF_CENTROIDS_PATH,
                       lambda: kmeans_centroids(base, k=8, iters=4))
    return base, (spark.read.parquet(_IVF_CENTROIDS_PATH)
                  .select("cent_id", "c"))


# Coarse IVF cells from the shared centroid side table, shared by the
# IVF and IVF-PQ oracles: each index vector (vec_id >= 10) in its
# nearest cell, each query in its 2 nearest (nprobe=2), cosine order
# with the cent_id tie-break.
_SQL_IVF_CELLS = f"""{_SQL_VEC_BASE},
    cents AS (SELECT cent_id, c
              FROM read_parquet('{_IVF_CENTROIDS_PATH}/*.parquet')),
    assign AS (
        SELECT b.vec_id, b.v, t.cent_id,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY {_sql_cosine("b.v", "t.c")}
                         DESC, t.cent_id) AS rn
        FROM base b, cents t),
    cells AS (SELECT vec_id, v, cent_id FROM assign
              WHERE rn = 1 AND vec_id >= 10),
    probes AS (SELECT vec_id, v, cent_id FROM assign
               WHERE rn <= 2 AND vec_id < 10)"""

_SQL_ANN_IVF = f"""
    WITH {_SQL_IVF_CELLS},
    scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               {_sql_cosine("q.v", "n.v")} AS cos
        FROM probes q JOIN cells n ON q.cent_id = n.cent_id),
    {_sql_top5("scored", "cos")}"""


_PQ_BOOKS_PATH = os.path.join(DATA_DIR, "pq_codebooks_current.parquet")
# PQ geometry, coupled between the Spark call and the SQL oracle's
# list_slice width: m subspaces over the fixture's d=64 embeddings,
# k codewords per subspace; dsub derived so retuning m keeps the
# oracle slices in lockstep.
_PQ_D, _PQ_M, _PQ_K = 64, 4, 16
assert _PQ_D % _PQ_M == 0
_PQ_DSUB = _PQ_D // _PQ_M


def _ivfpq_adc(spark: SparkSession, sf_dir: str):
    """Shared IVF-PQ construction: trained coarse cells (nprobe=2),
    per-slice PQ codebooks, row-local neighbor encoding, query LUTs,
    and the ADC table-lookup fold.  Returns (base, scored) where
    scored = (query_id, neighbor_id, adc) over the probed cells —
    ann_ivfpq_topk ranks it directly; ann_ivfpq_rerank_topk shortlists
    it and re-scores exactly."""
    from .operators.ann import (_books_by_sub, assign_cells, pq_adc_expr,
                                pq_codebooks, pq_encode_expr, pq_lut_expr)
    base, cents = _ivf_base(spark, sf_dir)
    _ensure_side_table(sf_dir, _PQ_BOOKS_PATH,
                       lambda: pq_codebooks(base, m=_PQ_M, k=_PQ_K,
                                            iters=3))
    books = _books_by_sub(spark.read.parquet(_PQ_BOOKS_PATH).collect())

    neighbors = (assign_cells(base.where(F.col("vec_id") >= 10), cents)
                 .select(F.col("vec_id").alias("neighbor_id"), "cent_id",
                         pq_encode_expr(F.col("v"), books).alias("codes")))
    queries = (assign_cells(base.where(F.col("vec_id") < 10), cents,
                            nprobe=2)
               .select(F.col("vec_id").alias("query_id"), "cent_id",
                       pq_lut_expr(F.col("v"), books).alias("luts")))
    scored = (queries.join(neighbors, "cent_id")
              .select("query_id", "neighbor_id",
                      pq_adc_expr(F.col("codes"),
                                  F.col("luts")).alias("adc")))
    return base, scored


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the memory-compressed scale path (a 10^9-vector
    f64 index is ~0.5 TB raw; PQ stores m=4 codes + a cell id per
    vector).  Coarse stage: the SAME trained k-means cells and nprobe=2
    probing as ann_ivf_topk (side-table centroids shared).  Fine stage:
    non-residual product quantization — 4 subspaces x 16 codewords
    trained by seeded per-slice Lloyd (operators/ann.pq_codebooks),
    neighbors encoded row-locally to their nearest codeword per
    subspace, queries build a 4x16 LUT of subspace distances, and the
    asymmetric distance (ADC) is a pure table-lookup fold — no
    full-dimension arithmetic inside the probed cells.  Top-5 per query
    by (ADC ASC, neighbor_id).  Codebooks + centroids ride side tables
    (partition-order float sums), and DuckDB re-derives assignment,
    codes, LUTs, ADC, and the ranking from those shared floats."""
    _, scored = _ivfpq_adc(spark, sf_dir)
    return _top5(scored, "adc", descending=False)


_PQ_RERANK_R = 20  # ADC shortlist size feeding the exact re-rank


def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with EXACT RE-RANKING — the refine stage a production
    PQ deployment runs (FAISS IndexRefineFlat): the compressed ADC
    scan shortlists R=20 candidates per query with table lookups only,
    then ONLY those R rows fetch their full-precision vectors and get
    an exact cosine, and the final top-5 ranks by (cosine DESC,
    neighbor_id).  This recovers the recall PQ distortion loses inside
    the shortlist while touching R full vectors per query instead of
    |probed cells| — at 10^9 vectors the full-precision store stays
    cold and is hit 20 rows/query.

    Scale shape: the shortlist window runs on the skinny (query,
    neighbor, adc) stream; the two vector attaches are equi-joins of
    an O(queries*R) shortlist against the vector table (broadcastable
    shortlist).  The exact cosine is the family's sequential
    F.aggregate/zip_with fold, so DuckDB's list_sum re-derives it
    bit-for-bit from the shared side-table floats."""
    from .operators.dedup import cosine as cosine_expr
    base, scored = _ivfpq_adc(spark, sf_dir)
    w1 = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    short = (scored.withColumn("srank", F.row_number().over(w1))
             .where(F.col("srank") <= _PQ_RERANK_R)
             .select("query_id", "neighbor_id"))
    qv = base.select(F.col("vec_id").alias("query_id"),
                     F.col("v").alias("q"))
    nv = base.select(F.col("vec_id").alias("neighbor_id"),
                     F.col("v").alias("n"))
    exact = (short.join(qv, "query_id").join(nv, "neighbor_id")
             .select("query_id", "neighbor_id",
                     cosine_expr(F.col("q"), F.col("n")).alias("cos")))
    return _top5(exact, "cos")


# IVF-PQ oracle: the coarse cells of _SQL_IVF_CELLS (shared with
# _SQL_ANN_IVF); PQ codes/LUT/ADC re-derived from the
# shared codebooks — subdist holds every (vector, subspace, codeword)
# squared-L2 (the same (p-q)*(p-q) sequential fold), codes is the
# per-(vector, subspace) argmin with the cent_id tie-break, and ADC is
# list_sum over the sub_id-ordered lookups (the fold order the Spark
# side uses).  dsub = 16 at d = 64, m = 4.
# The CTE chain shared by the plain and reranked IVF-PQ oracles, up
# to the ADC-scored candidate stream.
_SQL_IVFPQ_CORE = f"""
    WITH {_SQL_IVF_CELLS},
    books AS (SELECT sub_id, cent_id, c
              FROM read_parquet('{_PQ_BOOKS_PATH}/*.parquet')),
    subdist AS (
        SELECT b.vec_id, k.sub_id, k.cent_id,
               list_sum(list_transform(
                   list_zip(list_slice(b.v, k.sub_id * {_PQ_DSUB} + 1,
                                       k.sub_id * {_PQ_DSUB} + {_PQ_DSUB}),
                            k.c),
                   x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
        FROM base b, books k),
    codes AS (
        SELECT vec_id, sub_id, cent_id FROM (
            SELECT vec_id, sub_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id, sub_id
                                      ORDER BY d, cent_id) AS rn
            FROM subdist) WHERE rn = 1),
    scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               list_sum(list(qd.d ORDER BY qd.sub_id)) AS adc
        FROM probes q
        JOIN cells n ON q.cent_id = n.cent_id
        JOIN codes cn ON cn.vec_id = n.vec_id
        JOIN subdist qd ON qd.vec_id = q.vec_id
                       AND qd.sub_id = cn.sub_id
                       AND qd.cent_id = cn.cent_id
        GROUP BY q.vec_id, n.vec_id)"""

_SQL_ANN_IVFPQ = (_SQL_IVFPQ_CORE + ",\n    "
                  + _sql_top5("scored", "adc", descending=False))

# Rerank oracle: ADC shortlist (same window as the plain ranking, cut
# at R), exact cosine re-derived from the raw vectors with the same
# sequential list_sum fold the whole ANN family uses, final top-5 by
# (cos DESC, neighbor_id).
_SQL_ANN_IVFPQ_RERANK = _SQL_IVFPQ_CORE + f""",
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc, neighbor_id) AS srank
            FROM scored) WHERE srank <= {_PQ_RERANK_R}),
    exact AS (
        SELECT s.query_id, s.neighbor_id,
               {_sql_cosine("q.v", "n.v")} AS cos
        FROM short s
        JOIN base q ON q.vec_id = s.query_id
        JOIN base n ON n.vec_id = s.neighbor_id),
    {_sql_top5("exact", "cos")}"""


# Full SQL re-derivation of the multi-table multi-probe LSH ANN from
# the shared plane constants: per-(vec, table) dots -> base key +
# margin-ordered probe flips (queries) / base key only (index) ->
# bucket equi-join -> exact cosine re-rank.  Mirrors
# embedding_lsh_probe_keys / embedding_lsh_index_keys exactly,
# including the (|dot|, p) margin tie-break.
_SQL_ANN_LSH = f"""
    WITH planes AS (
        SELECT tbl, p, w FROM read_parquet('{_LSH_PLANES_PATH}')),
    {_SQL_VEC_BASE},
    dots AS (
        SELECT b.vec_id, pl.tbl, pl.p,
               list_sum(list_transform(list_zip(b.v, pl.w),
                                       x -> CAST(x[1] AS DOUBLE) * x[2]))
               AS dot
        FROM base b CROSS JOIN planes pl),
    keys0 AS (
        SELECT vec_id, tbl,
               sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p
                        ELSE 0 END) AS bkey,
               list(struct_pack(m := abs(dot), p := p,
                                mask := CAST(1 AS BIGINT) << p)
                    ORDER BY abs(dot), p) AS margins
        FROM dots GROUP BY vec_id, tbl),
    idx AS (
        SELECT vec_id AS neighbor_id,
               't' || tbl || ':' || CAST(bkey AS VARCHAR) AS bucket
        FROM keys0 WHERE vec_id >= 10),
    probes AS (
        SELECT vec_id AS query_id,
               't' || tbl || ':' || CAST(bkey AS VARCHAR) AS bucket
        FROM keys0 WHERE vec_id < 10
        UNION
        SELECT k.vec_id,
               't' || k.tbl || ':' ||
               CAST(xor(k.bkey, u.m.mask) AS VARCHAR)
        FROM keys0 k, unnest(list_slice(k.margins, 1, 7)) AS u(m)
        WHERE k.vec_id < 10),
    cand AS (
        SELECT DISTINCT p.query_id, i.neighbor_id
        FROM probes p JOIN idx i ON p.bucket = i.bucket),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               {_sql_cosine("q.v", "n.v")} AS cos
        FROM cand c
        JOIN base q ON q.vec_id = c.query_id
        JOIN base n ON n.vec_id = c.neighbor_id),
    {_sql_top5("scored", "cos")}"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the 100 TB scale path for ann_cosine_topk):
    candidates come from a bucket equi-join instead of a cross join.
    Multi-table + query-directed multi-probe (planes=8, tables=4,
    probes=8 — measured recall 1.0/0.985 at cos 0.95/0.90 planted
    near-dups, the regime LSH serves; see BENCH/ANN_RECALL.md for the
    full curve including the honest uniform-top-k numbers where IVF or
    the blocked-GEMM scan is the right path).  The index side keys
    each vector once per table, the query side probes the base bucket
    plus the 7 lowest-margin single-bit flips.  Oracle-backed: DuckDB
    re-derives the ENTIRE path (dots, sign packing, margin-sorted
    probes, bucket join, exact rerank) from the shared plane constants
    (_SQL_ANN_LSH)."""
    from .operators.dedup import cosine as cosine_expr
    from .operators.textops import (embedding_lsh_index_keys,
                                    embedding_lsh_probe_keys)
    _ensure_lsh_planes()
    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      F.col("embedding").alias("v"))
    queries = base.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q"),
        F.explode(embedding_lsh_probe_keys(F.col("v"))).alias("bucket"))
    neighbors = base.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("n"),
        F.explode(embedding_lsh_index_keys(F.col("v"))).alias("bucket"))
    # a pair can collide in several tables/probes; dedupe BEFORE
    # scoring so ranks see each candidate once
    cand = (queries.join(neighbors, "bucket")
            .dropDuplicates(["query_id", "neighbor_id"]))
    return _top5(cand.select(
        "query_id", "neighbor_id",
        cosine_expr(F.col("q"), F.col("n")).alias("cos")), "cos")


# ---------------------------------------------------------------------------
# multimodal binary columns (decode / features / frame-sample / resize)
# ---------------------------------------------------------------------------

def media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media payloads (synthesized JVM-side from documents)
    decoded via Arrow-batched mapInPandas; the oracle recomputes the
    same metadata arithmetic from documents in SQL, verifying the
    encode -> binary -> decode round trip byte-for-byte."""
    from .operators.multimodal import decode_media, media_from_documents
    docs = _read(spark, sf_dir, "documents")
    return decode_media(media_from_documents(docs))


# The media metadata formulas of multimodal.media_from_documents, ONE
# SQL copy for every media oracle: kind cycles image/audio/video and
# each attribute is NULL outside its kind.
_SQL_MEDIA_ATTRS = """media AS (
        SELECT doc_id, text,
               (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
               CASE WHEN doc_id % 3 = 0
                    THEN 32 + (doc_id % 8) * 16 END AS width,
               CASE WHEN doc_id % 3 = 0
                    THEN 32 + (doc_id % 5) * 24 END AS height,
               CASE WHEN doc_id % 3 = 1
                    THEN 8000 + (doc_id % 4) * 8000 END AS sample_rate,
               CASE WHEN doc_id % 3 = 2
                    THEN 1 + doc_id % 60 END AS n_frames
        FROM documents)"""

_SQL_MEDIA_META = f"""
    WITH {_SQL_MEDIA_ATTRS}
    SELECT CAST(doc_id AS BIGINT) AS media_id, kind,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(n_frames AS INT) AS n_frames,
           CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_payload_bytes
    FROM media
"""


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-10th-frame sampling over decoded video metadata (explode of
    a Catalyst sequence; no Python)."""
    from .operators.multimodal import (decode_media, media_from_documents,
                                       sample_frames)
    docs = _read(spark, sf_dir, "documents")
    return sample_frames(decode_media(media_from_documents(docs)), every=10)


_SQL_FRAME_SAMPLE = f"""
    WITH {_SQL_MEDIA_ATTRS}
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(unnest(range(0, n_frames, 10)) AS INT) AS frame_idx
    FROM media WHERE kind = 'video'
"""


def media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize planning for image media (longer side
    clamped to 64px; pixel resample itself is the stubbed codec step)."""
    from .operators.multimodal import (decode_media, media_from_documents,
                                       resize_images)
    docs = _read(spark, sf_dir, "documents")
    return resize_images(decode_media(media_from_documents(docs)),
                         max_side=64)


_SQL_RESIZE_PLAN = f"""
    WITH {_SQL_MEDIA_ATTRS},
    m AS (SELECT doc_id, width AS w, height AS h
          FROM media WHERE kind = 'image')
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(greatest(floor(w * least(greatest(w, h), 64)
                               / greatest(w, h)), 1) AS INT)
               AS target_width,
           CAST(greatest(floor(h * least(greatest(w, h), 64)
                               / greatest(w, h)), 1) AS INT)
               AS target_height
    FROM m
"""


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature rows per media payload — one dense
    (media_id, bin_idx, cnt) row per 16-byte-wide bin, vectorized numpy
    inside mapInPandas.  Exploded (not array<float>) so the result is
    hashable, and oracle-checked: the payload is the ASCII EDSM header +
    document text, so DuckDB recomputes the exact byte histogram from
    ``documents`` via ord() over each character.  ASCII-only oracle:
    the per-character ord() twin equals the UTF-8 byte histogram only
    while documents.text is pure ASCII (multi-byte codepoints would
    yield ord()>255 rows the join silently drops) — guarded by the
    fixture-ASCII invariant test in tests/test_fixture_invariants.py."""
    from .operators.multimodal import (extract_feature_counts,
                                       media_from_documents)
    docs = _read(spark, sf_dir, "documents")
    return extract_feature_counts(media_from_documents(docs))


_SQL_MEDIA_FEATURES = f"""
    WITH {_SQL_MEDIA_ATTRS},
    m AS (
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               concat_ws('|', 'EDSM', kind, coalesce(width, 0),
                         coalesce(height, 0), coalesce(sample_rate, 0),
                         coalesce(n_frames, 0), coalesce(text, ''))
                   AS payload
        FROM media),
    pos AS (
        SELECT media_id, payload,
               unnest(range(1, length(payload) + 1)) AS i
        FROM m),
    h AS (
        SELECT media_id,
               ord(substr(payload, CAST(i AS INT), 1)) // 16 AS bin_idx,
               count(*) AS cnt
        FROM pos GROUP BY 1, 2),
    bins AS (SELECT unnest(range(16)) AS bin_idx)
    SELECT m.media_id, CAST(bins.bin_idx AS INT) AS bin_idx,
           CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt
    FROM m CROSS JOIN bins
    LEFT JOIN h ON h.media_id = m.media_id AND h.bin_idx = bins.bin_idx
"""


# ---------------------------------------------------------------------------
# flagship synthetic-transcript queries (oracle via read_parquet)
# ---------------------------------------------------------------------------

def transcripts_canonical_small(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    path = ensure_transcripts_parquet(spark, "small")
    t = spark.read.parquet(path)
    return (canonicalize(t)
            .select("conv_id", "full_text",
                    F.col("n_turns").cast("bigint").alias("n_turns"),
                    F.col("text_len").cast("bigint").alias("text_len")))


def _sql_transcripts_canonical_small() -> str:
    path = transcripts_path("small")
    return f"""
        SELECT conv_id,
               string_agg(coalesce(text, ''), '{TURN_SEP}'
                          ORDER BY turn_idx) AS full_text,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(length(string_agg(coalesce(text, ''), '{TURN_SEP}'
                                      ORDER BY turn_idx)) AS BIGINT)
                   AS text_len
        FROM read_parquet('{path}/*.parquet')
        GROUP BY conv_id
    """


def transcripts_clusters_small(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Flagship: the FULL linkage pipeline (canonicalize -> structural
    blocking -> salted pairs -> batched NW scoring -> threshold ->
    connected components) on the synthetic transcripts, oracle-checked
    end-to-end: the SQL twin mirrors every stage (salting drops out —
    it only re-routes pair generation, never changes the pair set).

    Cross-engine epistemic note: the structural band key uses
    floor(ln(len)/ln(r)); Java's and DuckDB's ln can differ in the last
    ulp, so a text_len landing within 1 ulp of a band boundary could
    flip a candidate key (probability ~1e-15 per conv; the gate's
    fixture is fixed and verified exact)."""
    from .plans.linkage import LinkageConfig, run_linkage
    path = ensure_transcripts_parquet(spark, "small")
    t = spark.read.parquet(path)
    return run_linkage(t, LinkageConfig())["clusters"]


def _sql_transcript_pairs() -> str:
    """The flagship pipeline's front in SQL, shared by the cluster and
    blocking-quality oracles: canon ``c``, structural ``bands`` and
    ``keys`` (salting drops out — it only re-routes pair generation),
    and the candidate pairs ``p``."""
    from .plans.linkage import BAND_TAU
    path = transcripts_path("small")
    ratio = 1.0 / (1.0 - BAND_TAU)
    return f"""c AS (
        SELECT conv_id,
               string_agg(coalesce(text, ''), '{TURN_SEP}'
                          ORDER BY turn_idx) AS full_text,
               count(*) AS n_turns,
               length(string_agg(coalesce(text, ''), '{TURN_SEP}'
                                 ORDER BY turn_idx)) AS text_len
        FROM read_parquet('{path}/*.parquet')
        GROUP BY conv_id),
    bands AS (
        SELECT conv_id, n_turns, text_len,
               CAST(floor(ln(CAST(greatest(text_len, 1) AS DOUBLE))
                          / ln({ratio!r})) AS BIGINT) AS band
        FROM c),
    keys AS (
        SELECT conv_id, 'st:' || n_turns || ':' || band AS bk FROM bands
        UNION ALL
        SELECT conv_id, 'st:' || n_turns || ':' || (band + 1) FROM bands),
    p AS (
        SELECT DISTINCT a.conv_id AS id_a, b.conv_id AS id_b
        FROM keys a JOIN keys b
          ON a.bk = b.bk AND a.conv_id < b.conv_id)"""


def _sql_transcripts_clusters_small() -> str:
    from .plans.linkage import LinkageConfig
    tau = LinkageConfig().tau
    edges = f"""
        SELECT id_a, id_b FROM s
        WHERE CAST(levenshtein(ta, tb) AS DOUBLE)
              / greatest(greatest(la, lb), 1) <= {tau}"""
    return f"""
    WITH RECURSIVE {_sql_transcript_pairs()},
    s AS (
        SELECT p.id_a, p.id_b, ca.full_text AS ta, cb.full_text AS tb,
               ca.text_len AS la, cb.text_len AS lb
        FROM p JOIN c ca ON ca.conv_id = p.id_a
               JOIN c cb ON cb.conv_id = p.id_b
        WHERE abs(la - lb) <= ceil({tau} * greatest(la, lb))),
    {_sql_closure(edges)}
    SELECT c.conv_id,
           coalesce(comp.root, c.conv_id) AS cluster_id
    FROM c LEFT JOIN comp ON c.conv_id = comp.node
    """


# ---------------------------------------------------------------------------
# cluster consumers: quality audit, survivorship, graded evaluation
# ---------------------------------------------------------------------------

def cluster_audit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster quality audit of the near-dup groups — the view a
    linkage deployment reads before trusting transitive closure (CC
    merges through CHAINS, so a cluster is only as strong as its
    weakest edge): member count, verified-edge count, edge density
    2e/(n(n-1)) (1.0 = clique of pairwise-verified near-dups, ->0 =
    chain-merged), and the weakest member edge's exact Jaccard.

    Scale shape: the edge derivation is pinned and SHARED with the CC
    pass (one MinHash chain, not two); the audit itself is one
    equi-join of edges to their id_a assignment (both endpoints share
    a cluster by CC construction, so one side suffices) plus two
    map-side-combined groupBys on cluster_id.  Singletons report 0
    edges and NULL density/jaccard."""
    docs = _read(spark, sf_dir, "documents")
    edges = (doc_minhash_neardup(spark, sf_dir)
             .localCheckpoint(eager=False))
    clusters = _neardup_clusters_of(docs, edges)
    members = (clusters.groupBy("cluster_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_members")))
    ec = (edges.join(clusters.withColumnRenamed("doc_id", "id_a"), "id_a")
          .groupBy("cluster_id")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"),
               F.min(F.col("inter_count") / F.col("union_count"))
               .alias("min_jaccard")))
    n = F.col("n_members")
    ne = F.coalesce(F.col("n_edges"), F.lit(0))
    return (members.join(ec, "cluster_id", "left")
            .select("cluster_id", "n_members",
                    ne.cast("bigint").alias("n_edges"),
                    F.when(n > 1, (F.lit(2.0) * ne) / (n * (n - 1)))
                     .alias("density"),
                    "min_jaccard"))


def _sql_cluster_audit(edges_sql: str | None = None) -> str:
    """``edges_sql`` must provide (id_a, id_b, inter_count,
    union_count): tools/cross_scale_check.py projects all four from
    the Spark-written certificate side table at sf0.1; the contract
    default recomputes the exhaustive all-pairs Jaccard edges."""
    return f"""
    WITH RECURSIVE {_sql_closure(edges_sql or _sql_minhash_neardup())},
    cl AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                  CAST(coalesce(comp.root, d.doc_id) AS BIGINT)
                      AS cluster_id
           FROM documents d LEFT JOIN comp ON d.doc_id = comp.node),
    m AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS nm
          FROM cl GROUP BY cluster_id),
    ec AS (SELECT cl.cluster_id, CAST(count(*) AS BIGINT) AS ne,
                  min(e.inter_count / e.union_count) AS mj
           FROM e JOIN cl ON e.id_a = cl.doc_id
           GROUP BY cl.cluster_id)
    SELECT m.cluster_id, m.nm AS n_members,
           CAST(coalesce(ec.ne, 0) AS BIGINT) AS n_edges,
           CASE WHEN m.nm > 1
                THEN (2.0 * coalesce(ec.ne, 0)) / (m.nm * (m.nm - 1))
                ELSE NULL END AS density,
           ec.mj AS min_jaccard
    FROM m LEFT JOIN ec ON m.cluster_id = ec.cluster_id
"""


def golden_records_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record selection — the MDM step after
    clustering: ONE canonical record per near-dup cluster under the
    classic most-complete-record-wins rule (max n_chars, doc_id as the
    total tie-break so the rule is deterministic), carrying its fields
    and the cluster size.  One shuffle: the rank and the member count
    share the same window partition (cluster_id), so Catalyst plans a
    single exchange feeding both window functions — no second groupBy
    pass over the corpus."""
    clusters = doc_neardup_clusters(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    j = clusters.join(docs.select("doc_id", "lang", "source", "n_chars"),
                      "doc_id")
    wp = Window.partitionBy("cluster_id")
    w = wp.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (j.withColumn("rn", F.row_number().over(w))
            .withColumn("n_members", F.count(F.lit(1)).over(wp))
            .where(F.col("rn") == 1)
            .select("cluster_id",
                    F.col("doc_id").cast("bigint").alias("rep_id"),
                    F.col("lang").alias("rep_lang"),
                    F.col("source").alias("rep_source"),
                    F.col("n_chars").cast("bigint").alias("rep_n_chars"),
                    F.col("n_members").cast("bigint").alias("n_members")))


def _sql_golden_records(edges_sql: str | None = None) -> str:
    return f"""
    WITH c AS ({_sql_neardup_clusters(edges_sql)}),
    j AS (
        SELECT c.cluster_id, d.doc_id, d.lang, d.source, d.n_chars,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, d.doc_id ASC)
                   AS rn,
               count(*) OVER (PARTITION BY c.cluster_id) AS nm
        FROM c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS rep_id,
           lang AS rep_lang,
           source AS rep_source,
           CAST(n_chars AS BIGINT) AS rep_n_chars,
           CAST(nm AS BIGINT) AS n_members
    FROM j WHERE rn = 1
"""


def linkage_eval_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule metric as a graded operator: pairwise TP/FP/FN +
    precision/recall/F1 of the flagship pipeline's clusters against
    the fixture's planted ground truth (conv_id = c{cluster}_{variant},
    sources/transcripts.py), computed with the contingency-table
    pair-counting identity, so nothing quadratic is materialized.  One
    builder in plans/linkage.py (``pairwise_eval``) computes it here
    and in the dict helper ``pairwise_f1`` that bench reporting reads."""
    from .plans.linkage import pairwise_eval
    return pairwise_eval(_truth_assignment(spark, sf_dir))


def _truth_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_id, truth_id): the flagship clusters with the fixture's
    planted truth peeled from conv_id (c{cluster}_{variant}), one row
    per conversation; both evaluation queries build their contingency
    cells from it (SQL twin: _sql_truth_cells)."""
    pred = transcripts_clusters_small(spark, sf_dir)
    return pred.select(
        "cluster_id", F.substring_index("conv_id", "_", 1).alias("truth_id"))


def _sql_truth_cells() -> str:
    """CTEs pred (the flagship query's own recursive-CTE cluster
    oracle) and cells, the contingency table with truth peeled from
    conv_id."""
    return f"""pred AS ({_sql_transcripts_clusters_small()}),
    cells AS (
        SELECT cluster_id, split_part(conv_id, '_', 1) AS truth_id,
               count(*) AS n
        FROM pred GROUP BY cluster_id, truth_id)"""


# Eval oracle: the shared cell table, then the same pair-counting
# identity.  2*tp/(pp+tpp) is F1 exactly (denominator = 2tp+fp+fn);
# single bigint/bigint divisions keep both engines on one
# correctly-rounded IEEE step each.
def _sql_linkage_eval() -> str:
    return f"""
    WITH {_sql_truth_cells()},
    tp_t AS (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT)
                 AS tp FROM cells),
    pp_t AS (SELECT CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT)
                 AS pp
             FROM (SELECT sum(n) AS s FROM cells GROUP BY cluster_id)),
    tt_t AS (SELECT CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT)
                 AS tpp
             FROM (SELECT sum(n) AS s FROM cells GROUP BY truth_id))
    SELECT tp,
           CAST(pp - tp AS BIGINT) AS fp,
           CAST(tpp - tp AS BIGINT) AS fn,
           CASE WHEN pp > 0 THEN tp / pp ELSE 1.0 END
               AS pairwise_precision,
           CASE WHEN tpp > 0 THEN tp / tpp ELSE 1.0 END
               AS pairwise_recall,
           CASE WHEN pp + tpp > 0 THEN (2.0 * tp) / (pp + tpp)
                ELSE 1.0 END AS pairwise_f1
    FROM tp_t, pp_t, tt_t
"""


def bcubed_eval_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed evaluation (Bagga & Baldwin 1998) of the flagship
    pipeline's clusters against the fixture's planted truth — the
    record-weighted complement to ``linkage_eval_small``'s pairwise
    F1 (standard ER practice reports both: pairwise weighs clusters
    quadratically in size, B-cubed weighs every record once, so
    singleton handling and small-cluster purity stay visible in the
    score).  Graded at CELL granularity: one row per (predicted
    cluster, truth label) overlap with its count, both marginal sizes,
    and the cell's B-cubed precision/recall mass n^2/size — each mass
    is ONE bigint-over-bigint IEEE division, so both engines land on
    the identical double (the repo's hash-stable float convention);
    the global P/R/F1 = sum(mass)/N is a cross-row double sum whose
    addition order Spark does not define, so the scalar rollup is the
    dict helper ``bcubed``.  One builder in plans/linkage.py
    (``bcubed_eval``) computes the cells for both.
    Scale shape: the corpus is touched once by the flagship's own
    clustering; everything here shuffles only the cell table (at most
    one row per cluster-label overlap — O(#clusters), not O(records)),
    and the two marginal sizes share it via two window sums."""
    from .plans.linkage import bcubed_eval
    return bcubed_eval(_truth_assignment(spark, sf_dir))


# B-cubed oracle: the shared cell table; n*n/size is one exact IEEE
# division per row in both engines (DuckDB `/` on integers is double
# division, matching Spark's `/` on bigints).
def _sql_bcubed_eval() -> str:
    return f"""
    WITH {_sql_truth_cells()},
    sized AS (
        SELECT cluster_id, truth_id, n,
               sum(n) OVER (PARTITION BY cluster_id) AS pred_size,
               sum(n) OVER (PARTITION BY truth_id) AS truth_size
        FROM cells)
    SELECT cluster_id, truth_id,
           CAST(n AS BIGINT) AS n,
           CAST(pred_size AS BIGINT) AS pred_size,
           CAST(truth_size AS BIGINT) AS truth_size,
           (n * n) / pred_size AS precision_mass,
           (n * n) / truth_size AS recall_mass
    FROM sized
"""


def blocking_quality_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit (Christen 2012's RR / PC) of the
    flagship pipeline's structural blocking on the planted-truth
    fixture, graded: total pair space C(n,2), candidate count,
    reduction ratio, true-match pairs (from truth-cluster sizes —
    never materialized), how many of them blocking kept, and pairs
    completeness — the recall CEILING any downstream scorer can
    reach, the number that justifies a blocking strategy.  One builder
    in plans/linkage.py (``blocking_eval``) computes it here and in
    the dict helper ``blocking_quality`` (BENCH/BLOCKING.md); this
    query passes it ``link_pairs``' pairs (no scorer, no CC) and the
    truth prefix of every canonical conv_id."""
    from .plans.linkage import blocking_eval, link_pairs
    path = ensure_transcripts_parquet(spark, "small")
    front = link_pairs(spark.read.parquet(path))
    truth = front["canonical"].select(
        "conv_id", F.substring_index("conv_id", "_", 1).alias("truth_id"))
    return blocking_eval(front["pairs"].localCheckpoint(eager=False),
                         truth)


# Blocking-quality oracle: the flagship cluster oracle's own
# canon/band/key/pair CTEs (_sql_transcript_pairs), then four scalar
# aggregates and the two ratios.
def _sql_blocking_quality() -> str:
    return f"""
    WITH {_sql_transcript_pairs()},
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
    cand AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM p),
    cov AS (SELECT CAST(count(*) AS BIGINT) AS n_covered FROM p
            WHERE split_part(id_a, '_', 1) = split_part(id_b, '_', 1)),
    tru AS (SELECT CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT)
                AS n_truth
            FROM (SELECT count(*) AS s FROM c
                  GROUP BY split_part(conv_id, '_', 1)))
    SELECT n AS n_records,
           CAST(n * (n - 1) // 2 AS BIGINT) AS n_total_pairs,
           n_candidates,
           n_truth AS n_truth_pairs,
           n_covered AS n_covered_pairs,
           1.0 - (n_candidates / (n * (n - 1) // 2)) AS reduction_ratio,
           CASE WHEN n_truth > 0 THEN n_covered / n_truth ELSE 1.0 END
               AS pairs_completeness
    FROM tot, cand, cov, tru
"""


# ---------------------------------------------------------------------------
# the registry: every contract query, its family, Spark side and oracle
# ---------------------------------------------------------------------------

FAMILIES = ("pipeline", "alignment", "blocking", "fs", "dedup_text", "ann",
            "cluster", "media")


class Query(NamedTuple):
    """One contract query: its public name, family, Spark side and the
    DuckDB oracle that must hash-equal it."""
    name: str
    family: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str


def registry() -> list[Query]:
    """Every contract query in graded order.  The table is grouped by
    family; the first entry of each family is its representative and
    leads the graded order, so the driver's first-50 window covers all
    of FAMILIES whatever the family sizes."""
    table = [
        # pipeline: the events-derived chain and the flagship transcripts
        Query("canonical_conversations", "pipeline",
              canonical_conversations, _SQL_CANONICAL),
        Query("length_blocks", "pipeline", length_blocks, _SQL_LENGTH_BLOCKS),
        Query("candidate_pairs", "pipeline",
              candidate_pairs_events, _SQL_PAIRS),
        Query("scored_pairs_nw", "pipeline",
              scored_pairs_events, _sql_scored(TAU)),
        Query("match_edges", "pipeline", match_edges_events, _sql_edges()),
        Query("clusters", "pipeline", clusters_events, _sql_clusters()),
        Query("clusters_incremental", "pipeline",
              clusters_incremental, _sql_clusters()),
        Query("transcripts_canonical_small", "pipeline",
              transcripts_canonical_small, _sql_transcripts_canonical_small()),
        Query("transcripts_clusters_small", "pipeline",
              transcripts_clusters_small, _sql_transcripts_clusters_small()),
        # alignment: NW / HW / SHW distances, locations and CIGARs
        Query("nw_distance_documents", "alignment",
              nw_distance_documents, _SQL_NW_DOCUMENTS),
        Query("nw_distance_customer", "alignment",
              nw_distance_customer, _SQL_NW_CUSTOMER),
        Query("nw_distance_documents_k", "alignment",
              nw_distance_documents_k, _SQL_NW_DOCUMENTS_K),
        Query("top_similar_documents", "alignment",
              top_similar_documents, _SQL_TOP_SIMILAR),
        Query("query_vs_corpus", "alignment",
              query_vs_corpus, _SQL_QUERY_VS_CORPUS),
        Query("query_top_corpus", "alignment",
              query_top_corpus, _SQL_QUERY_TOP_CORPUS),
        Query("query_infix_corpus", "alignment",
              query_infix_corpus, _SQL_QUERY_INFIX),
        Query("hw_distance_documents", "alignment",
              hw_distance_documents, _SQL_HW_DOCUMENTS),
        Query("scored_pairs_hw", "alignment", scored_pairs_hw, _SQL_SCORED_HW),
        Query("shw_distance_documents", "alignment",
              shw_distance_documents, _SQL_SHW_DOCUMENTS),
        Query("shw_distance_exact", "alignment",
              shw_distance_exact, _SQL_SHW_EXACT),
        Query("hw_distance_exact", "alignment",
              hw_distance_exact, _SQL_HW_EXACT),
        Query("equality_align_documents", "alignment",
              equality_align_documents, _SQL_EQUALITY_ALIGN),
        Query("hw_locations_documents", "alignment",
              hw_locations_documents, _SQL_HW_LOCATIONS_DOCUMENTS),
        Query("hw_locations_exact", "alignment",
              hw_locations_exact, _SQL_HW_LOCATIONS_EXACT),
        Query("fasta_align_pairs", "alignment",
              fasta_align_pairs, _SQL_FASTA_ALIGN),
        Query("nice_alignment_documents", "alignment",
              nice_alignment_documents, _SQL_NICE_ALIGNMENT),
        Query("align_path_documents", "alignment",
              align_path_documents, _SQL_ALIGN_PATH),
        Query("align_path_std_documents", "alignment",
              align_path_std_documents, _SQL_ALIGN_PATH_STD),
        Query("align_ops_stats_documents", "alignment",
              align_ops_stats_documents, _SQL_ALIGN_OPS),
        # blocking: SNM / MinHash / structural blocking and meta-blocking
        Query("snm_pairs_documents", "blocking",
              snm_pairs_documents, _SQL_SNM_PAIRS),
        Query("minhash_blocks_documents", "blocking",
              minhash_blocks_documents, _sql_minhash_blocks()),
        Query("multi_blocking_pairs", "blocking",
              multi_blocking_pairs, _sql_multi_blocking()),
        Query("meta_blocking_pairs", "blocking",
              meta_blocking_pairs, _sql_meta_blocking()),
        Query("meta_blocking_wep_pairs", "blocking",
              meta_blocking_wep_pairs, _sql_meta_blocking_wep()),
        Query("meta_blocking_quality", "blocking",
              meta_blocking_quality, _sql_meta_blocking_quality()),
        Query("meta_blocking_wep_quality", "blocking",
              meta_blocking_wep_quality, _sql_meta_blocking_wep_quality()),
        Query("block_size_profile", "blocking",
              block_size_profile, _sql_block_size_profile()),
        Query("blocking_quality_small", "blocking",
              blocking_quality_small, _sql_blocking_quality()),
        # fs: Fellegi-Sunter linkage over SNM candidates, plus PPRL
        Query("fs_match_documents", "fs",
              fs_match_documents, _sql_fs(tf=False)),
        Query("fs_tf_match_documents", "fs",
              fs_tf_match_documents, _sql_fs(tf=True)),
        Query("fs_classify_documents", "fs",
              fs_classify_documents, _sql_fs_classify()),
        Query("fs_calibration_documents", "fs",
              fs_calibration_documents, _sql_fs_calibration()),
        Query("fs_waterfall_documents", "fs",
              fs_waterfall_documents, _sql_fs_waterfall()),
        Query("fs_review_queue_documents", "fs",
              fs_review_queue_documents, _sql_fs_review_queue()),
        Query("pprl_bloom_documents", "fs",
              pprl_bloom_documents, _sql_pprl_bloom()),
        # dedup_text: text operators and the exact / near-dup dedup chain
        Query("doc_exact_dedup", "dedup_text",
              doc_exact_dedup, _SQL_DOC_DEDUP),
        Query("doc_token_stats", "dedup_text",
              doc_token_stats, _SQL_DOC_TOKENS),
        Query("doc_bpe_tokens", "dedup_text", doc_bpe_tokens, _SQL_BPE_TOKENS),
        Query("doc_quality", "dedup_text", doc_quality, _SQL_DOC_QUALITY),
        Query("doc_tfidf_topterms", "dedup_text",
              doc_tfidf_topterms, _SQL_TFIDF_TOPTERMS),
        Query("doc_ngram_jaccard", "dedup_text",
              doc_ngram_jaccard, _SQL_NGRAM_JACCARD),
        Query("doc_lang_id", "dedup_text", doc_lang_id, _sql_doc_lang_id()),
        Query("doc_simhash_buckets", "dedup_text",
              doc_simhash_buckets, _SQL_SIMHASH_BUCKETS),
        Query("doc_simhash_neardup", "dedup_text",
              doc_simhash_neardup, _SQL_SIMHASH_NEARDUP),
        Query("doc_fingerprint", "dedup_text",
              doc_fingerprint, _SQL_DOC_FINGERPRINT),
        Query("doc_minhash_neardup", "dedup_text",
              doc_minhash_neardup, _sql_minhash_neardup()),
        Query("doc_neardup_clusters", "dedup_text",
              doc_neardup_clusters, _sql_neardup_clusters()),
        Query("doc_dedup_corpus", "dedup_text",
              doc_dedup_corpus, _sql_dedup_corpus()),
        Query("doc_training_corpus", "dedup_text",
              doc_training_corpus, _sql_doc_training_corpus()),
        Query("training_funnel_documents", "dedup_text",
              training_funnel_documents, _sql_training_funnel()),
        # ann: embedding LSH, brute-force and IVF / IVF-PQ nearest neighbors
        Query("ann_cosine_topk", "ann", ann_cosine_topk, _SQL_ANN_TOPK),
        Query("embedding_lsh_buckets", "ann",
              embedding_lsh_buckets, _SQL_LSH_BUCKETS),
        Query("embedding_cosine_neardup", "ann",
              embedding_cosine_neardup, _SQL_COSINE_NEARDUP),
        Query("ann_ivf_topk", "ann", ann_ivf_topk, _SQL_ANN_IVF),
        Query("ann_ivfpq_topk", "ann", ann_ivfpq_topk, _SQL_ANN_IVFPQ),
        Query("ann_ivfpq_rerank_topk", "ann",
              ann_ivfpq_rerank_topk, _SQL_ANN_IVFPQ_RERANK),
        Query("ann_lsh_topk", "ann", ann_lsh_topk, _SQL_ANN_LSH),
        # cluster: audit, survivorship and graded evaluation of clusters
        Query("cluster_audit_documents", "cluster",
              cluster_audit_documents, _sql_cluster_audit()),
        Query("golden_records_documents", "cluster",
              golden_records_documents, _sql_golden_records()),
        Query("linkage_eval_small", "cluster",
              linkage_eval_small, _sql_linkage_eval()),
        Query("bcubed_eval_small", "cluster",
              bcubed_eval_small, _sql_bcubed_eval()),
        # media: binary media decode / sample / resize / features
        Query("media_decode_meta", "media",
              media_decode_meta, _SQL_MEDIA_META),
        Query("media_frame_sample", "media",
              media_frame_sample, _SQL_FRAME_SAMPLE),
        Query("media_resize_plan", "media",
              media_resize_plan, _SQL_RESIZE_PLAN),
        Query("media_features", "media", media_features, _SQL_MEDIA_FEATURES),
    ]
    reps = {}
    for q in table:
        reps.setdefault(q.family, q)
    lead = {q.name for q in reps.values()}
    return [*reps.values(), *(q for q in table if q.name not in lead)]


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.spark_fn for q in registry()}


def build_oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in registry()}
