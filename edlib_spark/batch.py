"""Batch alignment dispatcher (the Arrow hot path).

Computes NW / SHW / HW edit distances (and, for ``align_expr``,
alphabet sizes and NW CIGARs) for a whole Arrow batch of (query,
target) string pairs in three steps:

  1. encode both sides once into flat uint32 codepoint buffers
     (``encode_flat``);
  2. one call into the cffi-compiled banded Myers scans
     (``_native.native_batch``), which scores every pair, astral-plane
     text included, makes the reference's short circuits (empty sides,
     edlib.cpp:165-184; NW k < |tlen - qlen|, edlib.cpp:744-747; the
     HW clamp of k to qlen), runs edlib's k = 64, 128, ... doubling for
     unbounded pairs (edlib.cpp:196-217) and builds the asked-for NW
     paths, direct traceback or Hirschberg, all in C;
  3. the exact single-pair kernel (``kernel.align``, which makes the
     same short circuits) for whatever the native call did not score:
     no native library (no compiler on the host), a batch-level
     allocation failure, or a per-pair ``UNSUPPORTED`` entry.

Results equal ``kernel.align``'s distance (-1 when d > k) on both lanes;
the differential tests run every case with and without the native
library.  The k < |tlen-qlen| shortcut is also lifted to a Catalyst
predicate before the UDF (operators.scoring).
"""

from __future__ import annotations

import numbers

import numpy as np

from . import kernel


def encode_flat(strings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One-shot flat encoding: (codepoint buffer, per-string start,
    per-string length).  A single join+encode is ~10x cheaper than
    per-string numpy conversion.  Lone surrogates pass through as one
    codepoint each, so the buffer stays aligned with ``len``."""
    lens = np.fromiter((len(s) if s is not None else 0 for s in strings),
                       dtype=np.int64, count=len(strings))
    joined = "".join(s for s in strings if s) if len(strings) else ""
    buf = np.frombuffer(joined.encode("utf-32-le", "surrogatepass"),
                        dtype=np.uint32)
    start = np.zeros(len(strings), dtype=np.int64)
    if len(strings) > 1:
        np.cumsum(lens[:-1], out=start[1:])
    return buf, start, lens


def _symbol_pairs(pairs):
    """Additional-equality pairs (the reference's EdlibEqualityPair,
    edlib.h:92-95) with every entry as a single character.  Entries may
    be single-char str or int codepoints in 0..0x10FFFF; anything else
    raises a ValueError naming the pair.  As characters, the native
    scan (codepoints), kernel.encode_pair (symbol lookup) and every
    lane above them see the same relation."""
    if not pairs:
        return None

    def sym(v, pair):
        if isinstance(v, str) and len(v) == 1:
            return v
        if isinstance(v, numbers.Integral) and 0 <= v <= 0x10FFFF:
            return chr(v)
        raise ValueError(
            "equality pair entries must be single characters or "
            f"integer codepoints in 0..0x10FFFF, got {v!r} in pair "
            f"{pair!r}")

    return [(sym(a, (a, b)), sym(b, (a, b))) for a, b in pairs]


def _encode_equalities(eqs):
    """``_symbol_pairs`` output as two parallel uint32 codepoint arrays
    for the native kernels.  Symmetry is applied downstream (both OR
    directions), matching the reference's symmetric matrix."""
    if not eqs:
        return None
    a = np.array([ord(p[0]) for p in eqs], dtype=np.uint32)
    b = np.array([ord(p[1]) for p in eqs], dtype=np.uint32)
    return a, b


def batch_edit_distance(queries, targets, mode: str = "NW", k=-1,
                        equalities=None):
    """Edit distances for N (query, target) pairs; -1 where distance > k.

    ``queries``/``targets``: sequences of str (None treated as "").
    ``k``: scalar or array of per-pair bounds; negative = unbounded.
    ``equalities``: optional iterable of (a, b) pairs of single
    characters or int codepoints that the aligner treats as matching
    (EdlibEqualityPair semantics, reference edlib/src/edlib.cpp:63-94),
    applied batch-wide in the native scan's match profile.
    Returns an int32 array of length N.
    """
    if len(targets) != len(queries):
        raise ValueError("queries and targets must have equal length")
    return _flat_distance(queries, targets, encode_flat(queries),
                          encode_flat(targets), mode, k,
                          _symbol_pairs(equalities))[0]


def _flat_distance(queries, targets, q_enc, t_enc, mode, k, eqs,
                   path=None, extended=True):
    """The one dispatcher over ``_native.native_batch``: the strings AND
    their ``encode_flat`` encodings in, ``(dist, sigma, cigars)`` out —
    int32 distances, alphabet sizes and the NW CIGARs of the ``path``
    mask's pairs (``native_batch``'s contract; None where not built).
    ``eqs``: ``_symbol_pairs`` output.  Rows the native call did not
    score take ``_exact_distances``."""
    if mode not in ("NW", "SHW", "HW"):
        raise ValueError(f"invalid mode {mode!r}")
    n = len(q_enc[2])
    k_arr = np.broadcast_to(np.asarray(k, dtype=np.int64), (n,)).copy()

    from . import _native
    got = _native.native_batch(*q_enc, *t_enc, k_arr, mode,
                               _encode_equalities(eqs), path, extended)
    if got is None:
        got = (np.full(n, _native.UNSUPPORTED, dtype=np.int32),
               np.zeros(n, dtype=np.int32), [None] * n)
    dist, sigma, cigars = got
    todo = np.nonzero(dist == _native.UNSUPPORTED)[0]
    if len(todo):
        dist[todo], sigma[todo] = _exact_distances(
            [queries[i] for i in todo], [targets[i] for i in todo],
            mode, k_arr[todo], eqs)
    return dist, sigma, cigars


def _exact_distances(queries, targets, mode, ks, eqs):
    """Per-pair exact fallback: ``kernel.align``'s distances and
    alphabet sizes for pairs the native scan did not score (a None side
    is "")."""
    res = [kernel.align(q or "", t or "", mode, "distance", int(k),
                        additionalEqualities=eqs, max_alphabet=None)
           for q, t, k in zip(queries, targets, ks)]
    return ([r["editDistance"] for r in res],
            [r["alphabetLength"] for r in res])
