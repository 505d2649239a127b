"""Custom stateful streaming operator: incremental conversation
canonicalization with ``applyInPandasWithState``.

Turns for one conv_id may be spread across micro-batches (and arrive
out of order).  State per conv_id accumulates (turn_idx, text) pairs;
the canonical row — turns sorted by turn_idx, joined with the engine's
separator — is emitted when the conversation's end marker arrives
(``role == end_role``), with a processing-time timeout as the fallback
for conversations whose marker never shows (late/lost data).

This is the streaming twin of operators.canonicalize: same separator,
same ordering invariant (per-turn text equality under stable
(conv_id, turn_idx) ordering), state bounded per conversation.

Production state-store note: the default HDFSBackedStateStoreProvider
keeps every state row on the executor HEAP (plus checkpoint copies).
At deployment scale — millions of in-flight conversations, each
holding its accumulated turns — configure the RocksDB provider so
state lives off-heap on local disk with incremental checkpointing:

    spark.sql.streaming.stateStore.providerClass =
        org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
    spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled = true

Both stateful operators here (applyInPandasWithState and
dropDuplicatesWithinWatermark in scorer.dedup_pair_stream) run
unchanged on either provider — the RocksDB path is exercised by
tests/test_streaming.py::test_stream_canonicalize_on_rocksdb_state_store
(same output as the default provider).  Timeout/tombstone behavior
under a continuous processing-time trigger is soaked in
tests/test_streaming.py::test_stream_canonicalize_continuous_soak.

A ``transformWithStateInPandas`` port (last at commit 5d91d36) was evaluated
and dropped: it needs the ``protobuf`` package, which the engine does not
require; revisit if applyInPandasWithState is deprecated.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..operators.canonicalize import TURN_SEP

CANONICAL_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("full_text", StringType()),
    StructField("n_turns", LongType()),
    StructField("complete", StringType()),  # 'end' | 'timeout'
])

_STATE_SCHEMA = StructType([
    StructField("idxs", ArrayType(IntegerType())),
    StructField("texts", ArrayType(StringType())),
    # 1 after the conversation has been emitted: the state row becomes a
    # TOMBSTONE that swallows post-marker stragglers, so a conv_id is
    # emitted at most once (late turns would otherwise recreate fresh
    # state and eventually emit a duplicate partial row)
    StructField("done", IntegerType()),
])


def stream_canonicalize(turns: DataFrame, end_role: str = "end",
                        timeout_ms: int | None = None,
                        sep: str = TURN_SEP) -> DataFrame:
    """(conv_id, turn_idx, role, text) stream -> canonical conversation
    stream.  Marker turns (role == end_role) trigger emission and are
    excluded from the canonical text.

    ``timeout_ms``: optional processing-time timeout that flushes
    conversations whose end marker never arrives.  Leave None (default)
    for availableNow/backfill runs: with ProcessingTimeTimeout set,
    Spark's availableNow trigger keeps scheduling no-data batches and
    the query never self-terminates (observed on Spark 4.1); enable it
    only for continuously-running deployments.

    Emission is AT-MOST-ONCE per conv_id: after the end marker fires,
    the state row stays behind as a tombstone that swallows late turns
    (they would otherwise recreate fresh state and emit a duplicate
    partial row).  With ``timeout_ms`` set, tombstones expire with the
    same timeout; with NoTimeout they are retained for the lifetime of
    the (availableNow/backfill) run."""

    def fn(key: Any, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        if state.hasTimedOut:
            idxs, texts, done = state.get
            if done:
                state.remove()  # tombstone expiry: emit nothing
                return
            # timeout flush EMITS, and must leave a tombstone exactly
            # like the end-marker path — otherwise a late straggler
            # recreates fresh state and a second (duplicate) partial
            # row is eventually emitted for the same conv_id
            state.update(([], [], 1))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
            yield _emit(conv_id, idxs, texts, sep, "timeout")
            return
        idxs, texts, done = state.get if state.exists else ([], [], 0)
        if done:
            # already emitted: swallow stragglers, keep the tombstone
            for _ in pdfs:
                pass
            state.update(([], [], 1))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
            return
        idxs, texts = list(idxs), list(texts)
        saw_end = False
        for pdf in pdfs:
            saw_end |= bool((pdf["role"] == end_role).any())
            keep = pdf[pdf["role"] != end_role]
            idxs.extend(keep["turn_idx"].astype("int64").tolist())
            texts.extend(keep["text"].fillna("").tolist())
        if saw_end:
            state.update(([], [], 1))  # tombstone against late turns
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
            yield _emit(conv_id, idxs, texts, sep, "end")
        else:
            state.update((idxs, texts, 0))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if timeout_ms is not None
                    else GroupStateTimeout.NoTimeout)
    return (turns.groupBy("conv_id")
            .applyInPandasWithState(fn, CANONICAL_SCHEMA, _STATE_SCHEMA,
                                    "append", timeout_conf))


def _emit(conv_id: str, idxs: list, texts: list, sep: str,
          how: str) -> pd.DataFrame:
    order = sorted(range(len(idxs)), key=lambda i: (idxs[i], texts[i]))
    full = sep.join(texts[i] for i in order)
    return pd.DataFrame({"conv_id": [conv_id], "full_text": [full],
                         "n_turns": [len(idxs)], "complete": [how]})
