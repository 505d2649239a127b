"""Spark Column functions wrapping the alignment kernels.

Public surface mirrors the reference Python binding
(/root/reference/bindings/python/edlib.pyx:56-155) lifted to columns:

  * ``edit_distance(q, t, mode=..., k=...)`` — the HOT path.  A
    Series->Series pandas UDF over Arrow batches running the batch
    Myers kernel (edlib_spark.batch, one native call per batch): no
    per-row Python, per-pair k bounds (pass a Column for k).
  * ``align_expr(q, t, mode, task, k, ...)`` — full result struct
    (editDistance, alphabetLength, locations, cigar).  Distances come
    from the same batch kernel; the NW lane gets every row's alphabet
    size and traceback CIGAR from one native call per Arrow batch, and the
    exact single-pair kernel runs only for HW/SHW location scans and
    tracebacks (banded at the known distance) and for edge cases (empty
    sides, tracebacks past the Hirschberg boundary, no native library).
    Bulk 'distance' scoring should still prefer ``edit_distance``
    (narrower output column).
  * ``norm_distance`` — JVM-side normalized-distance expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from .. import kernel
from ..batch import (
    _encode_equalities, _flat_distance, _symbol_pairs, batch_edit_distance,
    encode_flat,
)

ALIGN_RESULT_TYPE = StructType([
    StructField("editDistance", IntegerType()),
    StructField("alphabetLength", IntegerType()),
    StructField("locations", ArrayType(StructType([
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
    ]))),
    StructField("cigar", StringType()),
])


def _k_column(k) -> Column:
    """``k`` as the per-row bound column the UDFs take: a Column passes
    through, an int becomes a literal (negative = unbounded)."""
    return k if isinstance(k, Column) else F.lit(int(k))


def edit_distance(query: Column, target: Column, mode: str = "NW",
                  k=-1, additional_equalities=None) -> Column:
    """Edit distance column; -1 where the distance exceeds k.

    ``k`` may be an int (same bound for all rows) or a Column (per-pair
    bound, e.g. ``F.ceil(tau * F.greatest(len_a, len_b))``).
    ``additional_equalities``: optional (a, b) pairs of single
    characters or int codepoints the aligner treats as equal
    (EdlibEqualityPair, reference edlib.h:92-95) — handled inside the
    native scan's Peq profile, so bulk scoring with wildcards /
    case-folding equivalences stays vectorized.
    """
    # validated and turned into characters driver-side, before any job
    eqs = _symbol_pairs(additional_equalities)

    @pandas_udf(IntegerType())
    def _dist(q: pd.Series, t: pd.Series, kk: pd.Series) -> pd.Series:
        ks = kk.fillna(-1).astype("int64").to_numpy()
        return pd.Series(
            batch_edit_distance(q.tolist(), t.tolist(), mode, ks,
                                equalities=eqs))
    return _dist(query, target, _k_column(k))


def align_expr(query: Column, target: Column, mode: str = "NW",
               task: str = "distance", k=-1,
               additional_equalities=None, max_alphabet=None,
               cigar_format: str = "extended") -> Column:
    """Full alignment result struct (editDistance, alphabetLength,
    locations, cigar).

    Each Arrow batch runs ``_align_batch``: distances come from the
    batch kernel (``batch_edit_distance``'s native scan), and for NW
    one more native call over the same encoding returns every row's
    alphabet size and, under ``task='path'``, every row's CIGAR
    (traceback banded at the known distance, k = d, the tightest
    admissible band; the reference's traceback is per-pair,
    edlib/src/edlib.cpp:931-1141, but the batch loop around it need not
    be).  NW locations follow from the distance alone.  Rows whose
    distance exceeds ``k`` never reach a per-pair scan; HW/SHW rows
    with a distance run the exact single-pair kernel (``kernel.align``)
    for their locations / path.

    ``k`` may be an int (same bound for all rows) or a Column (per-pair
    bound, same as ``edit_distance``).
    ``additional_equalities``: (a, b) pairs of single characters or int
    codepoints; ints are read as codepoints on every lane.
    ``max_alphabet=None`` (default here, unlike the reference) because
    canonicalized transcripts routinely exceed 256 unique codepoints.
    ``cigar_format``: ``"extended"`` (=/X/I/D, the reference binding's
    only output) or ``"standard"`` (M/I/D, the reference CLI's
    -f CIG_STD switch, apps/aligner/aligner.cpp:200-221).
    """
    eqs = _symbol_pairs(additional_equalities)
    if cigar_format not in ("extended", "standard"):
        raise ValueError(f"invalid cigar_format {cigar_format!r}")
    # validate eagerly (driver-side, before any job): the vectorized
    # NW lane would otherwise treat an unknown task as 'path' while
    # empty/HW/SHW rows raise from kernel.align — a typo must fail
    # loudly and uniformly, not per-row depending on data content
    if task not in kernel.TASKS:
        raise ValueError(f"invalid task {task!r}")

    def _batch(q: pd.Series, t: pd.Series, ks) -> pd.DataFrame:
        return _align_batch(["" if v is None else v for v in q.tolist()],
                            ["" if v is None else v for v in t.tolist()],
                            ks, mode, task, eqs, max_alphabet,
                            cigar_format)

    @pandas_udf(ALIGN_RESULT_TYPE)
    def _align_k(q: pd.Series, t: pd.Series, kk: pd.Series) -> pd.DataFrame:
        return _batch(q, t, kk.fillna(-1).astype("int64").to_numpy())
    return _align_k(query, target, _k_column(k))


def _align_batch(qs: list, ts: list, ks, mode: str, task: str, eqs,
                 max_alphabet, cigar_format: str) -> pd.DataFrame:
    """``align_expr``'s result rows for one batch of str pairs.

    ``ks``: scalar or per-row k; ``eqs``: equality pairs of single
    characters (``_symbol_pairs`` output).  Both sides are encoded once
    for the distance call and the NW align call.  The per-pair Python
    kernel runs only for rows with an empty side, HW/SHW rows with a
    distance, and NW paths the batch call did not build: pairs past
    the direct-traceback memory limit (kernel._direct_traceback, the
    reference's Hirschberg boundary), a native allocation failure, or
    no native library at all.
    """
    from .. import _native

    n = len(qs)
    q_enc, t_enc = encode_flat(qs), encode_flat(ts)
    dists = _flat_distance(qs, ts, q_enc, t_enc, mode, ks, eqs)
    per_row_k = np.broadcast_to(np.asarray(ks, dtype=np.int64), (n,))
    q_lens, t_lens = q_enc[2], t_enc[2]
    extended = cigar_format == "extended"

    path_d = None
    if mode == "NW" and task == "path":
        path_d = np.where((q_lens > 0) & (t_lens > 0) & (dists >= 0)
                          & kernel._direct_traceback(q_lens, t_lens),
                          dists, -1)
    got = _native.native_batch_align(*q_enc, *t_enc, path_d,
                                     _encode_equalities(eqs), extended)
    if got is None:
        # alphabet size as kernel.encode_pair counts it: unique symbols
        # across both sequences (equality pairs relate symbols, they
        # don't merge alphabet letters — reference edlib.cpp:63-94)
        sigma = np.fromiter((len(set(q) | set(t)) for q, t in zip(qs, ts)),
                            dtype=np.int64, count=n)
        cigars = [None] * n
    else:
        sigma, cigars = got
    if max_alphabet is not None and n and sigma.max() > max_alphabet:
        raise ValueError(
            "query and target combined have more than %d unique "
            "values, this is not supported." % max_alphabet)

    rows = []
    for qi, ti, d, sg, cigar, ki in zip(qs, ts, dists.tolist(),
                                        sigma.tolist(), cigars, per_row_k):
        if not qi or not ti:
            # empty-sequence semantics live in the kernel (and the
            # short-circuit ignores k, so d already agrees)
            r = kernel.align(qi, ti, mode=mode, task=task, k=int(ki),
                             additionalEqualities=eqs,
                             max_alphabet=max_alphabet,
                             cigar_format=cigar_format)
        elif d < 0:
            rows.append((-1, sg, [], None))
            continue
        elif mode == "NW":
            # NW locations are fully determined by the distance: end =
            # tlen-1 always, start = 0 when asked (kernel.align's NW
            # branch)
            end = len(ti) - 1
            if task == "distance":
                rows.append((d, sg, [(None, end)], None))
                continue
            if task == "path" and cigar is None:
                q_codes, t_codes, _, eqm = kernel.encode_pair(
                    qi, ti, eqs, None)
                path = kernel._obtain_alignment(q_codes, t_codes, eqm,
                                                sg, d)
                cigar = kernel.path_to_cigar(path, extended=extended)
            rows.append((d, sg, [(0, end)], cigar))
            continue
        else:
            # locations / path / semi-global ends: per-pair scan,
            # banded at the known distance (same result for any
            # band >= d; property-pinned in tests/test_kernel.py::
            # test_band_at_exact_distance_invariance)
            r = kernel.align(qi, ti, mode=mode, task=task, k=d,
                             additionalEqualities=eqs,
                             max_alphabet=max_alphabet,
                             cigar_format=cigar_format)
        rows.append((
            r["editDistance"],
            r["alphabetLength"],
            [(s, e) for s, e in r["locations"]],
            r["cigar"],
        ))
    return pd.DataFrame(rows, columns=["editDistance", "alphabetLength",
                                       "locations", "cigar"])


def nice_alignment(align_result: Column, query: Column,
                   target: Column) -> Column:
    """Debug renderer: query/match/target aligned strings from a cigar
    (reference getNiceAlignment, bindings/python/edlib.pyx:158-238)."""
    out_type = StructType([
        StructField("query_aligned", StringType()),
        StructField("matched_aligned", StringType()),
        StructField("target_aligned", StringType()),
    ])

    @pandas_udf(out_type)
    def _nice(res: pd.DataFrame, q: pd.Series, t: pd.Series) -> pd.DataFrame:
        rows = []
        for (_, r), qs, ts in zip(res.iterrows(), q, t):
            d = {"cigar": r["cigar"],
                 "locations": [(loc["start"], loc["end"])
                               for loc in (r["locations"] or [])]}
            try:
                nice = kernel.get_nice_alignment(d, qs or "", ts or "")
                rows.append((nice["query_aligned"], nice["matched_aligned"],
                             nice["target_aligned"]))
            except (ValueError, TypeError):
                rows.append((None, None, None))
        return pd.DataFrame(rows, columns=["query_aligned",
                                           "matched_aligned",
                                           "target_aligned"])
    return _nice(align_result, query, target)


def norm_distance(dist: Column, len_a: Column, len_b: Column) -> Column:
    """Normalized distance in [0, 1]: dist / max(len_a, len_b); null
    where dist is -1 (exceeded k).  Pure JVM expression."""
    denom = F.greatest(len_a, len_b)
    return F.when(dist >= 0,
                  dist.cast("double") /
                  F.when(denom > 0, denom).otherwise(F.lit(1))
                  .cast("double")).otherwise(F.lit(None))
