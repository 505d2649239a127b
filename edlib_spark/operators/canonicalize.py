"""Conversation canonicalization: turns -> one ordered string per conv.

The per-row invariant demanded by BASELINE.json input_hint — per-turn
text equality under stable (conv_id, turn_idx) ordering — is enforced by
sorting the collected turn structs by turn_idx before joining.  This is
a single hash-aggregate (one shuffle on conv_id, map-side partials
automatic); no window + distinct double-shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ASCII record separator: joins turns so they can be split back
# losslessly (it never occurs in transcript text), and stays 1 byte ==
# 1 char so byte-based external oracles agree with codepoint math.
TURN_SEP = "\x1e"


def canonicalize(transcripts: DataFrame) -> DataFrame:
    """(conv_id, full_text, n_turns, text_len) — one row per conversation.

    ``array_sort`` on struct(turn_idx, text) orders by turn_idx first
    (struct ordering is field-by-field), giving the stable turn ordering;
    ``transform`` then projects the text back out, and ``TURN_SEP``
    joins the turns.  All JVM-side.
    """
    turn = F.struct(F.col("turn_idx"),
                    F.coalesce(F.col("text"), F.lit("")).alias("t"))
    return (
        transcripts
        .groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(turn)),
                            lambda s: s["t"]),
                TURN_SEP).alias("full_text"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .withColumn("text_len", F.length("full_text"))
    )
