"""Batch-vectorized Myers edit-distance kernel (the Arrow hot path).

Computes NW / SHW / HW edit distances for a whole Arrow batch of
(query, target) string pairs at once: the Myers bit-vector column step
(semantics of reference /root/reference/edlib/src/edlib.cpp:399-447) is
applied to numpy uint64 *vectors across pairs* — axis 0 is the pair,
axis 1 the 64-row block — so per-column Python overhead is amortized over
hundreds/thousands of pairs.  This is the "batched columnar Levenshtein
kernel, no per-row Python" the pipeline scorer runs inside a pandas UDF.

Key properties:
  * exact same results as ``edlib_spark.kernel.align`` (differentially
    tested) — distance d, or -1 when d > k;
  * per-pair k bound (the pipeline uses k = ceil(tau * max_len));
  * k-bounded early exit: pairs whose best achievable final score already
    exceeds k drop out of the batch loop (vector analogue of the
    reference band-death exit, edlib.cpp:644-654 / 873-878);
  * pairs are processed in (num_blocks, target_length)-sorted chunks so
    column padding waste stays small — callers should additionally sort
    Spark partitions by length (see pipeline.scoring).

The reference's per-pair Ukkonen block banding (edlib.cpp:559-562,
751-755) is realized at VECTOR granularity: in a lockstep vectorized
scan every lane executes the same blocks, so the tightest possible
band is the union of the per-pair bands — which is exactly what each
column computes.  NW uses the per-pair feasibility corridor |d| +
|(qlen-tlen) - d| <= k (d = diagonal offset; the reference's initial
last-block formula per column), semi-global a +-k window; both use a
per-pair k that is tightened in-flight from the band-edge score
(edlib.cpp:790-794 / 663-669) and drop out of the union as pairs
finish or die.  Pairs are additionally chunk-grouped by geometric
k-magnitude so a large-k outlier lands in its own chunk instead of
widening the union for unrelated pairs.  The k < |tlen-qlen| shortcut
is lifted to a Catalyst predicate before the UDF (edlib.cpp:744-747).
(The cffi scan has scalar per-pair banding and scores every pair,
astral-plane text included; this scan runs only when the native library
is missing, when ``use_native=False``, or after a native allocation
failure.)
"""

from __future__ import annotations

import numpy as np

WORD = 64
_U1 = np.uint64(1)
_UALL = np.uint64(0xFFFFFFFFFFFFFFFF)
_U63 = np.uint64(63)
_POP = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)

# chunk sizing: bound Peq memory (N * sigma * B * 8 bytes)
_PEQ_BYTES_BUDGET = 256 << 20
_MIN_CHUNK = 64
_MAX_CHUNK = 8192


def _popcnt(x: np.ndarray) -> np.ndarray:
    """Per-element popcount of a uint64 array (numpy<2 lacks bitwise_count)."""
    return _POP[np.ascontiguousarray(x).view(np.uint8).reshape(-1, 8)].sum(
        axis=1).astype(np.int64)


def encode_strings(strings) -> tuple[list, np.ndarray]:
    """Encode an iterable of str into codepoint arrays + lengths.
    Lone surrogates encode as their own codepoint, like ``len``/``ord``
    see them (and like kernel.align scores them)."""
    codes = []
    lens = np.empty(len(strings), dtype=np.int64)
    for i, s in enumerate(strings):
        if s is None:
            s = ""
        a = np.frombuffer(s.encode("utf-32-le", "surrogatepass"),
                          dtype=np.uint32)
        codes.append(a)
        lens[i] = len(a)
    return codes, lens


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


def _encode_equalities(equalities):
    """Normalize additional-equality pairs (single-char str or int
    codepoints, the reference's EdlibEqualityPair edlib.h:92-95) into two
    parallel uint32 codepoint arrays.  Symmetry is applied downstream
    (both OR directions), matching the reference's symmetric matrix."""
    if not equalities:
        return None

    def _cp(v, pair):
        if isinstance(v, str):
            if len(v) != 1:
                raise ValueError(
                    "equality pair entries must be single characters or "
                    f"integer codepoints, got {v!r} in pair {pair!r}")
            return ord(v)
        return int(v)

    a = np.fromiter((_cp(p[0], p) for p in equalities), dtype=np.uint32)
    b = np.fromiter((_cp(p[1], p) for p in equalities), dtype=np.uint32)
    return a, b


def batch_edit_distance(queries, targets, mode: str = "NW", k=-1,
                        use_native: bool = True, equalities=None):
    """Edit distances for N (query, target) pairs; -1 where distance > k.

    ``queries``/``targets``: sequences of str (None treated as "").
    ``k``: scalar or array of per-pair bounds; negative = unbounded.
    ``use_native``: try the cffi-compiled scan first (same results).
    ``equalities``: optional iterable of (a, b) single-char pairs that
    the aligner treats as matching (EdlibEqualityPair semantics,
    reference edlib/src/edlib.cpp:63-94) — applied batch-wide as extra
    Peq plane ORs, so the hot path stays fully vectorized.
    Returns an int32 array of length N.
    """
    if mode not in ("NW", "SHW", "HW"):
        raise ValueError(f"invalid mode {mode!r}")
    # already-encoded (eqa, eqb) uint32 arrays pass through (recursive
    # calls); anything else — including a tuple OF pairs — is encoded
    eq_cp = equalities if (isinstance(equalities, tuple)
                           and len(equalities) == 2
                           and isinstance(equalities[0], np.ndarray)) \
        else _encode_equalities(equalities)
    n = len(queries)
    if len(targets) != n:
        raise ValueError("queries and targets must have equal length")
    out = np.full(n, -1, dtype=np.int32)
    if n == 0:
        return out

    k_arr = np.broadcast_to(np.asarray(k, dtype=np.int64), (n,)).copy()

    # ---- dynamic-k doubling for unbounded pairs (edlib.cpp:196-217):
    # banded scans at k = 64, 128, ... are far cheaper than one
    # full-band scan when the true distance is small relative to the
    # sequence length (the common case for near-duplicates)
    unb_mask = k_arr < 0
    if unb_mask.any():
        uidx = np.nonzero(unb_mask)[0]
        bidx = np.nonzero(~unb_mask)[0]
        if len(bidx):
            out[bidx] = batch_edit_distance(
                [queries[i] for i in bidx], [targets[i] for i in bidx],
                mode, k_arr[bidx], use_native, eq_cp)
        uq = [queries[i] or "" for i in uidx]
        ut = [targets[i] or "" for i in uidx]
        qlens = np.array([len(s) for s in uq], dtype=np.int64)
        tlens = np.array([len(s) for s in ut], dtype=np.int64)
        cap = np.maximum(qlens, tlens) if mode == "NW" else qlens
        res = np.full(len(uidx), -1, dtype=np.int32)
        active = np.arange(len(uidx))
        ktry = 64  # WORD_SIZE (edlib.cpp:199)
        while len(active):
            kk = np.minimum(ktry, cap[active])
            got = batch_edit_distance(
                [uq[i] for i in active], [ut[i] for i in active],
                mode, kk, use_native, eq_cp)
            final = (got >= 0) | (kk >= cap[active])
            res[active[final]] = got[final]
            active = active[~final]
            ktry *= 2
        out[uidx] = res
        return out

    q_buf, q_start, q_lens = encode_flat(queries)
    t_buf, t_start, t_lens = encode_flat(targets)
    q_codes = t_codes = None  # built lazily for the numpy path
    if mode == "HW":  # solution never exceeds qlen (edlib.cpp:566-568)
        k_arr = np.minimum(k_arr, q_lens)

    # ---- empty-sequence short circuit (edlib.cpp:165-184) ----
    # NOTE: the reference returns the distance here WITHOUT comparing
    # against k (its short-circuit precedes all k logic); kernel.align
    # matches, so the batch path must too.
    empty = (q_lens == 0) | (t_lens == 0)
    if empty.any():
        if mode == "NW":
            d = np.maximum(q_lens, t_lens)
        else:
            d = q_lens.copy()
        out[empty] = d[empty].astype(np.int32)

    todo = np.nonzero(~empty)[0]
    if mode == "NW":
        # k < |tlen - qlen| shortcut (edlib.cpp:744-747)
        feasible = np.abs(t_lens - q_lens)[todo] <= k_arr[todo]
        todo = todo[feasible]
    if len(todo) == 0:
        return out

    # fast path: cffi-compiled per-pair scan (bit-identical algorithm;
    # per-pair alphabet mapping happens in C over the raw codepoint
    # buffers — no Python-side recode at all)
    if use_native:
        from . import _native
        if _native.lib is not None:
            got = _native.native_batch_distance(
                q_buf, np.ascontiguousarray(q_start[todo]),
                np.ascontiguousarray(q_lens[todo]),
                t_buf, np.ascontiguousarray(t_start[todo]),
                np.ascontiguousarray(t_lens[todo]),
                np.ascontiguousarray(k_arr[todo]), mode, eq_cp)
            if got is not None:
                ok = got != _native.UNSUPPORTED
                out[todo[ok]] = got[ok]
                todo = todo[~ok]  # allocation failures drop to numpy
                if len(todo) == 0:
                    return out

    # numpy path: global recode to a dense alphabet for this batch
    q_codes = [q_buf[q_start[i]:q_start[i] + q_lens[i]] for i in range(n)]
    t_codes = [t_buf[t_start[i]:t_start[i] + t_lens[i]] for i in range(n)]
    all_codes = np.concatenate(
        [q_codes[i] for i in todo] + [t_codes[i] for i in todo])
    alphabet = np.unique(all_codes)

    # equality pairs mapped onto this batch's dense alphabet; pairs whose
    # symbols never occur are dropped (no-ops)
    eq_dense = []
    if eq_cp is not None:
        for a, bsym in zip(*eq_cp):
            ia = int(np.searchsorted(alphabet, a))
            ib = int(np.searchsorted(alphabet, bsym))
            if (ia < len(alphabet) and ib < len(alphabet)
                    and alphabet[ia] == a and alphabet[ib] == bsym
                    and ia != ib):
                eq_dense.append((ia, ib))

    # order by (num_blocks, k-magnitude, target_length); bucket nearby
    # block counts together (padding queries up to the bucket max) so
    # chunks stay big enough to amortize per-column numpy overhead.
    # The k-magnitude key (geometric: floor(log2(k+1))) groups pairs
    # with similar bounds so the chunk scanner's shared Ukkonen band —
    # sized at the chunk's kmax — is within 2x of every member's own
    # k: one large-k outlier lands in its own chunk instead of
    # widening the band for the whole batch (the per-pair analogue of
    # reference edlib.cpp:559-562 at chunk granularity).
    nb = (q_lens[todo] + WORD - 1) // WORD
    kb = np.int64(np.log2(np.maximum(k_arr[todo], 0) + 1) + 1e-12)
    order = np.lexsort((t_lens[todo], kb, nb))
    todo = todo[order]
    nb = nb[order]
    kb = kb[order]

    pos = 0
    while pos < len(todo):
        b_cap = max(int(nb[pos]) + 1, int(nb[pos] * 1.3))
        end = pos
        while end < len(todo) and nb[end] <= b_cap and kb[end] == kb[pos]:
            end += 1
        # tiny k-groups pay more in per-op numpy overhead than a wider
        # band costs: merge them forward across k buckets (band sizing
        # at the chunk's kmax keeps results identical either way)
        while (end - pos < _MIN_CHUNK and end < len(todo)
               and nb[end] <= b_cap):
            end += 1
        b = int(nb[end - 1])  # pad width for the bucket
        # within a bucket block counts are padded equal, so re-sort purely
        # by tlen: the chunk scanner's done-pointer requires tlen ascending
        bucket = todo[pos:end]
        bucket = bucket[np.argsort(t_lens[bucket], kind="stable")]
        todo[pos:end] = bucket
        # memory-bounded sub-chunks (tlen-sorted within the bucket)
        sigma = len(alphabet)
        max_chunk = max(_MIN_CHUNK,
                        min(_MAX_CHUNK,
                            _PEQ_BYTES_BUDGET // max(1, sigma * b * 8)))
        while pos < end:
            sub = todo[pos:min(end, pos + max_chunk)]
            _chunk_distance(sub, q_codes, t_codes, q_lens, t_lens, k_arr,
                            alphabet, b, mode, out, eq_dense)
            pos += len(sub)
    return out


def _build_peq(sub, q_codes, q_lens, alphabet, b):
    """Query profiles for a chunk: (N, sigma, B) uint64.

    peq[i, s, blk] bit r == 1 iff query i row blk*64+r equals symbol s or
    is past the query end (wildcard padding, reference buildPeq
    edlib.cpp:352-384).  Built with two 32-bit np.bincount passes — exact
    in float64 — instead of a slow unbuffered ufunc.at.
    """
    n = len(sub)
    sigma = len(alphabet)
    lens = q_lens[sub]
    total = b * WORD

    # flat (pair, row) -> slot (pair*sigma + code)*b + block
    ii = np.repeat(np.arange(n), lens)
    rr = np.concatenate([np.arange(q_lens[i]) for i in sub]) if n else \
        np.empty(0, np.int64)
    cc = np.searchsorted(alphabet,
                         np.concatenate([q_codes[i] for i in sub]))
    slots = (ii * sigma + cc) * b + (rr >> 6)
    sh = rr & 63
    size = n * sigma * b
    lo_sel = sh < 32
    lo = np.bincount(slots[lo_sel],
                     weights=(1 << sh[lo_sel]).astype(np.float64),
                     minlength=size)
    hi = np.bincount(slots[~lo_sel],
                     weights=(1 << (sh[~lo_sel] - 32)).astype(np.float64),
                     minlength=size)
    peq = lo.astype(np.uint64) | (hi.astype(np.uint64) << np.uint64(32))
    peq = peq.reshape(n, sigma, b)

    # wildcard padding rows: set pad bits in EVERY symbol plane
    qrem = np.clip(lens[:, None] - np.arange(b)[None, :] * WORD, 0, WORD)
    safe = np.minimum(qrem, WORD - 1).astype(np.uint64)  # avoid <<64 UB
    pad = np.where(qrem >= WORD, np.uint64(0), _UALL << safe)
    peq |= pad[:, None, :]
    return peq


def _chunk_distance(sub, q_codes, t_codes, q_lens, t_lens, k_arr,
                    alphabet, b, mode, out, eq_dense=()):
    """Run the vectorized Myers scan for one homogeneous chunk.

    A *shared* Ukkonen band in block space is applied across the whole
    chunk: any cell with value <= k satisfies |row - col| <= k (NW/SHW;
    for HW only the upper bound holds because starts are free), so only
    blocks intersecting [j - k, j + k] are computed each column.  The
    band k is DYNAMIC and per-pair (the vector analogue of the
    reference's per-pair banding): each pair carries kdyn, tightened
    in-flight — NW by the bottom-row upper bound kdyn = min(kdyn,
    lrow + remaining_target) (reference edlib.cpp:790-794), semi-global
    by the best score seen so far (edlib.cpp:663-669) — and each column
    sizes the shared band at max(kdyn) over still-ALIVE pairs.  In a
    lockstep vectorized scan every lane executes the same blocks, so
    the union of the per-pair bands is the per-pair-optimal band; as
    pairs tighten, finish, or die, the union narrows.  Blocks entering
    the band from below (including re-entry after the band narrowed
    past them) are initialized to boundary state exactly like the
    reference's band extension (edlib.cpp:803-808).
    """
    n = len(sub)
    qlen = q_lens[sub]
    tlen = t_lens[sub]
    kk = k_arr[sub]

    peq = _build_peq(sub, q_codes, q_lens, alphabet, b)
    if eq_dense:
        # Equality pairs widen the match profile: plane[t_sym] also gets
        # the query-row bits of every symbol declared equal to t_sym.
        # ORs are taken from a SNAPSHOT of the identity planes because
        # the relation is not transitive (reference edlib.cpp:63-94:
        # 'N'~'A' and 'N'~'C' must not imply 'A'~'C').  Pad bits are
        # identical across planes, so post-pad ORs are safe.
        involved = {c for pair in eq_dense for c in pair}
        snap = {c: peq[:, c, :].copy() for c in involved}
        for ca, cb in eq_dense:
            peq[:, cb, :] |= snap[ca]
            peq[:, ca, :] |= snap[cb]

    max_t = int(tlen.max())
    tpad = np.zeros((n, max_t), dtype=np.int64)
    for i, idx in enumerate(sub):
        tpad[i, :t_lens[idx]] = np.searchsorted(alphabet, t_codes[idx])

    # state laid out (block, pair) so per-block rows are contiguous
    pv = np.full((b, n), _UALL, dtype=np.uint64)
    mv = np.zeros((b, n), dtype=np.uint64)
    score = np.repeat(((np.arange(b) + 1) * WORD).astype(np.int64),
                      n).reshape(b, n)

    # per-pair bottom block (queries are padded up to the bucket width b,
    # so the true last query row can sit in an inner block)
    b_last = ((qlen - 1) // WORD).astype(np.int64)
    w = ((b_last + 1) * WORD - qlen).astype(np.int64)       # 0..63
    shift = np.minimum(WORD - w, WORD - 1).astype(np.uint64)
    top_w = np.where(w == 0, np.uint64(0), _UALL << shift)

    start_pos = 0 if mode == "HW" else 1
    alive = np.ones(n, dtype=bool)
    best = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)  # HW/SHW min
    res = np.full(n, -1, dtype=np.int64)
    rows = np.arange(n)
    ones_u = np.ones(n, dtype=np.uint64)
    zeros_u = np.zeros(n, dtype=np.uint64)

    kdyn = kk.astype(np.int64).copy()  # per-pair dynamic band bound
    top_valid = b - 1  # initial state is valid boundary state everywhere
    # NW corridor precomputation: a cell at diagonal offset d = row - col
    # lies on a path of cost <= k only if |d| + |(qlen-tlen) - d| <= k
    # (minimum indels to pass through it and still reach the corner) —
    # the reference's initial last-block formula (edlib.cpp:751-755)
    # applied per pair per column.
    dlen = qlen - tlen
    absd = np.abs(dlen)
    maxd0 = np.maximum(dlen, 0)
    mind0 = np.minimum(dlen, 0)

    lo = 0  # pairs [0:lo) have tlen <= j (done); tlen is sorted ascending
    for j in range(max_t):
        while lo < n and tlen[lo] <= j:
            lo += 1
        sl = slice(lo, n)
        act = alive[sl]
        if not act.any():
            break
        full = bool(act.all())

        cur_kmax = int(kdyn[sl][act].max())
        if mode == "NW":
            # per-pair feasibility corridor, unioned across alive lanes
            # (a lockstep vector scan must compute the union anyway, so
            # this IS per-pair banding at vector granularity)
            halfk = np.maximum(kdyn[sl] - absd[sl], 0) >> 1
            hi_blk = np.minimum(b_last[sl], (j + maxd0[sl] + halfk) >> 6)
            lo_blk = np.maximum(j + mind0[sl] - halfk, 0) >> 6
            blast = int(hi_blk[act].max())
            bfirst = int(lo_blk[act].min())
        else:
            # semi-global cells only lower-bound by |row - col| (free
            # starts/ends), so the band stays a +-k window
            blast = min(b - 1, (j + cur_kmax) >> 6)
            bfirst = 0 if mode == "HW" else max(0, (j - cur_kmax) >> 6)
        if blast > top_valid:  # band grew downward: boundary-state entry.
            # The entering block gets P=all-ones (each cell +1 below the
            # one above) anchored at the block above's previous-column
            # bottom value — the reference's band-extension state
            # (edlib.cpp:803-808); the normal loop then advances it.
            # Re-entry after the band narrowed past a block takes the
            # same path: its stale state is simply overwritten.
            for nb in range(top_valid + 1, blast + 1):
                pv[nb] = _UALL
                mv[nb] = np.uint64(0)
                score[nb] = score[nb - 1] + WORD
        top_valid = blast

        eq_t = np.ascontiguousarray(
            peq[rows[sl], tpad[sl, j], bfirst:blast + 1].T)  # (nblocks, m)
        hpos = ones_u[sl] if start_pos else zeros_u[sl]
        hneg = zeros_u[sl]
        for blk in range(bfirst, blast + 1):
            pv_b = pv[blk, sl]
            mv_b = mv[blk, sl]
            eq_b = eq_t[blk - bfirst]
            xv = eq_b | mv_b
            eq2 = eq_b | hneg
            xh = (((eq2 & pv_b) + pv_b) ^ pv_b) | eq2
            ph = mv_b | ~(xh | pv_b)
            mh = pv_b & xh
            hp = ph >> _U63
            hm = mh >> _U63
            ph = (ph << _U1) | hpos
            mh = (mh << _U1) | hneg
            pv_new = mh | ~(xv | ph)
            mv_new = ph & xv
            if full:
                pv[blk, sl] = pv_new
                mv[blk, sl] = mv_new
                score[blk, sl] += hp.view(np.int64) - hm.view(np.int64)
                hpos, hneg = hp, hm
            else:
                pv[blk, sl] = np.where(act, pv_new, pv_b)
                mv[blk, sl] = np.where(act, mv_new, mv_b)
                score[blk, sl] += np.where(act, hp.view(np.int64)
                                           - hm.view(np.int64), 0)
                hpos = np.where(act, hp, np.uint64(0))
                hneg = np.where(act, hm, np.uint64(0))

        # column-level in-flight k tightening from the band-edge block
        # (reference edlib.cpp:790-794, done every column regardless of
        # whether the band has reached the pair's bottom row yet): the
        # value at the band's bottom row upper-bounds the answer via a
        # diagonal walk (NW: to the corner, cost <= max(remaining
        # target, remaining query); semi-global: straight down this
        # column).  In-band values only ever overestimate the true cell,
        # and below-bottom padding rows carry a bottom value from <= W
        # columns back, so the generalized +pad term keeps the bound
        # sound for queries padded up to the bucket width.
        idx = rows[sl]
        sb = score[blast, idx]
        rem_q = qlen[sl] - (blast + 1) * WORD  # query rows below band edge
        rem_t = tlen[sl] - 1 - j
        if mode == "NW":
            ebound = sb + np.maximum(rem_t, rem_q) + np.maximum(-rem_q, 0)
        else:
            ebound = sb + np.maximum(rem_q, 0)
        kdyn[sl] = np.where(act, np.minimum(kdyn[sl], ebound), kdyn[sl])

        # per-pair bottom-row readout: valid once the band reaches the
        # pair's true bottom block
        bl_i = b_last[sl]
        # readable only while the pair's bottom block is inside the band;
        # above the band (bl_i < bfirst) the block state is stale and the
        # true bottom-row value provably exceeds kmax.
        valid = (bl_i <= blast) & (bl_i >= bfirst)
        if not valid.any():
            continue
        last_p = pv[bl_i, idx] & top_w[sl]
        last_m = mv[bl_i, idx] & top_w[sl]
        lrow = score[bl_i, idx] - _popcnt(last_p) + _popcnt(last_m)

        remaining = tlen[sl] - 1 - j
        if mode == "NW":
            fin = act & (tlen[sl] == j + 1)
            if fin.any():
                # Exactness is per pair with corridor banding: a value
                # is exact iff every path of that cost fits the pair's
                # own corridor, i.e. lrow <= kdyn (<= kk always).  If
                # lrow > kdyn then d > kdyn (else the optimal path was
                # in the corridor and lrow would equal it), and kdyn <
                # kk only ever holds with d <= kdyn — so -1 is correct.
                got = np.where(valid & (lrow <= kdyn[sl]), lrow, -1)
                res[sl] = np.where(fin, got, res[sl])
                alive[sl] &= ~fin
                act = alive[sl]
            # k-bounded early exit: along the last row the score changes
            # by at most 1 per column, so a pair whose last-row value
            # cannot come back under k is dead.  Only trust lrow when it
            # is <= kdyn: outside the pair's corridor it may be a
            # clamped overestimate (Ukkonen invariant).
            dead = act & valid & (lrow <= kdyn[sl]) \
                & (lrow - remaining > kk[sl])
            if dead.any():
                alive[sl] &= ~dead
            # in-flight k tightening (edlib.cpp:790-794): the final
            # distance is at most lrow + remaining (walk the bottom
            # row), and in-band values only ever overestimate, so the
            # bound is sound even above cur_kmax.
            tgt = act & valid
            if tgt.any():
                kdyn[sl] = np.where(tgt, np.minimum(kdyn[sl],
                                                    lrow + remaining),
                                    kdyn[sl])
        else:
            upd = act & valid & (lrow < best[sl])
            best[sl] = np.where(upd, lrow, best[sl])
            # best-score k tightening (edlib.cpp:663-669): any recorded
            # column value (even an overestimate) upper-bounds the
            # min-over-columns answer.
            kdyn[sl] = np.minimum(kdyn[sl], best[sl])
            # Freeze pairs whose min-over-columns can no longer improve:
            # the last-row value moves by at most +-1 per column, so the
            # best future value is lrow - remaining.  Also freeze once the
            # recorded best is provably out of reach of k.
            floor = lrow - remaining
            exact = valid & (lrow <= cur_kmax)  # above band: overestimate
            frozen = act & ((exact & (floor >= best[sl])) | (best[sl] == 0))
            dead = act & exact & (floor > kk[sl]) & (best[sl] > kk[sl])
            if frozen.any() or dead.any():
                alive[sl] &= ~(frozen | dead)

    if mode != "NW":
        res = np.where(best <= kk, best, -1)

    out[sub] = res.astype(np.int32)
