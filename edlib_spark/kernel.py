"""Exact single-pair alignment kernel (pure Python/numpy, no Spark).

Reimplements the semantics of the reference library's Myers bit-vector
aligner (reference: /root/reference/edlib/src/edlib.cpp) from scratch in
Python.  This module is the *semantic gold standard* of the engine: every
mode (NW / SHW / HW), task (distance / locations / path), k bound,
equality extension, empty-sequence edge case and tie-breaking rule of the
reference is reproduced here and pinned by tests against the reference's
own golden vectors (reference tests: test/runTests.cpp,
bindings/python/test.py).

The hot distributed path does NOT call this module per row — see
``edlib_spark.batch`` for the Arrow-batch dispatcher over the one
compiled entry (``_native.batch_align``), which transcribes this
module's scans, traceback and Hirschberg in C.  This module imports
nothing from ``_native`` and is used for:
  * HW / SHW task='locations' on the pairs that survive the match
    threshold, and every row the compiled entry did not handle (empty
    sides, no native library),
  * differential testing of the compiled entry,
  * the public ``align()`` API mirroring the reference Python binding
    (reference: bindings/python/edlib.pyx:56-155).

Semantics citations (reference file:line):
  * bit-parallel block step       edlib/src/edlib.cpp:399-447
  * semi-global scan (HW/SHW)     edlib/src/edlib.cpp:532-704
  * global scan (NW)              edlib/src/edlib.cpp:707-928
  * traceback                     edlib/src/edlib.cpp:931-1141
  * Hirschberg recursion          edlib/src/edlib.cpp:1216-1396
  * CIGAR run-length encoding     edlib/src/edlib.cpp:303-350
  * empty-sequence results        edlib/src/edlib.cpp:165-184
  * dynamic-k doubling            edlib/src/edlib.cpp:196-217
  * HW start-location search      edlib/src/edlib.cpp:227-266
"""

from __future__ import annotations

import numpy as np

WORD = 64
M64 = (1 << 64) - 1
HIGH = 1 << 63

# Move codes in an alignment path (same encoding as the reference,
# edlib/include/edlib.h:83-87).
OP_MATCH = 0
OP_INSERT = 1  # insertion to target == deletion from query (move up)
OP_DELETE = 2  # deletion from target == insertion to query (move left)
OP_MISMATCH = 3

MODES = ("NW", "SHW", "HW")
TASKS = ("distance", "locations", "path")

# Heuristic boundary between full traceback and Hirschberg, kept equal to
# the reference for parity (edlib/src/edlib.cpp:1186-1190).
_TRACEBACK_MEM_LIMIT = 1024 * 1024
_STRONG_REDUCE_NUM = 2048


def _ceil_div(x: int, y: int) -> int:
    return -(-x // y)


# --------------------------------------------------------------------------
# Sequence encoding
# --------------------------------------------------------------------------

def encode_pair(query, target, additional_equalities=None, max_alphabet=256):
    """Map two sequences (str / bytes / iterable of hashables) to dense
    integer code arrays plus an equality matrix.

    Mirrors the reference's alphabet inference (edlib/src/edlib.cpp:1417-1462)
    and the Python binding's hashable mapping (bindings/python/edlib.pyx:22-53):
    symbols get codes in order of first occurrence, query first.

    ``max_alphabet=None`` lifts the reference's 256-unique-symbol cap (our
    numpy kernels are not byte-bound); the default keeps reference parity.
    """
    symbol_code: dict = {}
    q_codes = np.empty(len(query), dtype=np.int64)
    t_codes = np.empty(len(target), dtype=np.int64)
    for out, seq in ((q_codes, query), (t_codes, target)):
        for i, ch in enumerate(seq):
            code = symbol_code.get(ch)
            if code is None:
                code = len(symbol_code)
                symbol_code[ch] = code
            out[i] = code
    sigma = len(symbol_code)
    if max_alphabet is not None and sigma > max_alphabet:
        raise ValueError(
            "query and target combined have more than %d unique values, "
            "this is not supported." % max_alphabet)

    eq = np.eye(sigma, dtype=bool)
    if additional_equalities:
        for a, b in additional_equalities:
            ca = symbol_code.get(a)
            cb = symbol_code.get(b)
            if ca is not None and cb is not None:
                eq[ca, cb] = eq[cb, ca] = True
    return q_codes, t_codes, sigma, eq


def build_peq(sigma: int, q_codes: np.ndarray, eq: np.ndarray) -> list:
    """Query profile: peq[s][b] = 64-bit word whose bit r is set iff query
    symbol at row b*64+r equals symbol s (rows past the query end count as
    wildcard padding).  Row ``sigma`` is the all-ones wildcard row.

    Semantics of reference buildPeq (edlib/src/edlib.cpp:352-384), built
    vectorized instead of per (symbol, block, row).
    """
    qlen = len(q_codes)
    nblocks = max(1, _ceil_div(qlen, WORD))
    padded = np.full(nblocks * WORD, sigma, dtype=np.int64)
    padded[:qlen] = q_codes
    # match matrix with an extra all-True row for the padding sentinel
    eq_ext = np.vstack([eq, np.ones((1, sigma), dtype=bool)]) if sigma else \
        np.ones((1, 0), dtype=bool)
    bits = eq_ext[padded]                       # (nblocks*WORD, sigma)
    weights = (np.uint64(1) << np.arange(WORD, dtype=np.uint64))
    words = (bits.reshape(nblocks, WORD, sigma).astype(np.uint64)
             * weights[None, :, None]).sum(axis=1, dtype=np.uint64)
    peq = [[int(words[b, s]) for b in range(nblocks)] for s in range(sigma)]
    peq.append([M64] * nblocks)                 # wildcard row
    return peq


# --------------------------------------------------------------------------
# Bit-parallel block step
# --------------------------------------------------------------------------

def _advance(pv: int, mv: int, eq_w: int, hin: int):
    """One 64-cell column step of the Myers bit-vector recurrence.

    Same dataflow as the reference's Advance_Block port
    (edlib/src/edlib.cpp:412-447), on Python ints masked to 64 bits.
    Returns (pv_out, mv_out, hout) with hout in {-1, 0, +1}.
    """
    xv = eq_w | mv
    if hin < 0:
        eq_w |= 1
    xh = ((((eq_w & pv) + pv) & M64) ^ pv) | eq_w
    ph = mv | (~(xh | pv) & M64)
    mh = pv & xh
    hout = 0
    if ph & HIGH:
        hout = 1
    if mh & HIGH:
        hout = -1
    ph = (ph << 1) & M64
    mh = (mh << 1) & M64
    if hin < 0:
        mh |= 1
    elif hin > 0:
        ph |= 1
    pv_out = mh | (~(xv | ph) & M64)
    mv_out = ph & xv
    return pv_out, mv_out, hout


def _block_cells(p: int, m: int, score: int) -> list:
    """Values of all 64 cells of a block, bottom cell first
    (reference getBlockCellValues, edlib/src/edlib.cpp:470-482)."""
    cells = [0] * WORD
    s = score
    mask = HIGH
    for i in range(WORD - 1):
        cells[i] = s
        if p & mask:
            s -= 1
        if m & mask:
            s += 1
        mask >>= 1
    cells[WORD - 1] = s
    return cells


def _all_cells_larger(p: int, m: int, score: int, k: int) -> bool:
    return all(c > k for c in _block_cells(p, m, score))


# --------------------------------------------------------------------------
# Semi-global scan (HW / SHW)
# --------------------------------------------------------------------------

def _scan_semiglobal(peq, w, nblocks, qlen, t_codes, k, mode):
    """Banded semi-global distance scan; returns (best, positions).

    positions is the full ordered set of 0-based end columns achieving the
    best score (reference myersCalcEditDistanceSemiGlobal,
    edlib/src/edlib.cpp:532-704, including the last-W fixup at 680-693 and
    the in-flight k tightening at 663-669).
    """
    first = 0
    last = min(_ceil_div(k + 1, WORD), nblocks) - 1
    if mode == "HW":
        k = min(qlen, k)

    bp = [0] * nblocks
    bm = [0] * nblocks
    bs = [0] * nblocks
    for b in range(last + 1):
        bs[b] = (b + 1) * WORD
        bp[b] = M64
        bm[b] = 0

    best = -1
    positions: list = []
    start_hout = 0 if mode == "HW" else 1
    tlen = len(t_codes)

    for c in range(tlen):
        peq_c = peq[t_codes[c]]
        hout = start_hout
        for b in range(first, last + 1):
            bp[b], bm[b], hout = _advance(bp[b], bm[b], peq_c[b], hout)
            bs[b] += hout

        # -- band adjustment (Ukkonen) --
        if (last < nblocks - 1 and bs[last] - hout <= k
                and ((peq_c[last + 1] & 1) or hout < 0)):
            last += 1
            bp[last] = M64
            bm[last] = 0
            bp[last], bm[last], h2 = _advance(bp[last], bm[last],
                                              peq_c[last], hout)
            bs[last] = bs[last - 1] - hout + WORD + h2
        else:
            while last >= first and bs[last] >= k + WORD:
                last -= 1

        if c % _STRONG_REDUCE_NUM == 0:
            while (last >= 0 and last >= first
                   and _all_cells_larger(bp[last], bm[last], bs[last], k)):
                last -= 1
        # HW can restart at every column: block 0 always stays a candidate.
        if mode == "HW" and last == -1:
            last += 1

        if mode != "HW":
            while first <= last and bs[first] >= k + WORD:
                first += 1
            if c % _STRONG_REDUCE_NUM == 0:
                while first <= last and _all_cells_larger(
                        bp[first], bm[first], bs[first], k):
                    first += 1

        if last < first:  # band died: early exit
            return best, positions

        if last == nblocks - 1:
            col_score = bs[last]
            if col_score <= k:
                # score seen at column c is really the score of column c-w
                # (wildcard padding shifts it right by w columns).
                if best == -1 or col_score <= best:
                    if col_score != best:
                        positions = []
                        best = col_score
                        k = best
                    positions.append(c - w)

    # scores of the final w columns live in the padding cells above the
    # bottom cell of the last block.
    if last == nblocks - 1:
        cells = _block_cells(bp[last], bm[last], bs[last])
        for i in range(w):
            col_score = cells[i + 1]
            if col_score <= k and (best == -1 or col_score <= best):
                if col_score != best:
                    positions = []
                    best = col_score
                    k = best
                positions.append(tlen - w + i)

    return best, positions


# --------------------------------------------------------------------------
# Global scan (NW)
# --------------------------------------------------------------------------

class _AlignData:
    """Saved per-column block states for traceback (reference
    AlignmentData, edlib/src/edlib.cpp:22-47)."""

    __slots__ = ("ps", "ms", "scores", "first_blocks", "last_blocks",
                 "nblocks")

    def __init__(self, nblocks, ncols):
        self.nblocks = nblocks
        self.ps = [0] * (nblocks * ncols)
        self.ms = [0] * (nblocks * ncols)
        self.scores = [0] * (nblocks * ncols)
        self.first_blocks = [0] * ncols
        self.last_blocks = [0] * ncols


def _scan_nw(peq, w, nblocks, qlen, t_codes, k, find_alignment=False,
             target_stop=-1):
    """Banded global (NW) distance scan.

    Returns (best, position, align_data).  best == -1 when the distance
    exceeds k.  With ``find_alignment`` the whole banded matrix is saved;
    with ``target_stop`` >= 0 only that column is saved (the Hirschberg
    hook).  Reference myersCalcEditDistanceNW, edlib/src/edlib.cpp:707-928,
    including the in-flight k tightening (790-794) and the
    k < |tlen-qlen| shortcut (744-747).
    """
    tlen = len(t_codes)
    if k < abs(tlen - qlen):
        return -1, -1, None
    k = min(k, max(qlen, tlen))

    first = 0
    last = min(nblocks,
               _ceil_div(min(k, (k + qlen - tlen) // 2) + 1, WORD)) - 1

    bp = [0] * nblocks
    bm = [0] * nblocks
    bs = [0] * nblocks
    for b in range(last + 1):
        bs[b] = (b + 1) * WORD
        bp[b] = M64
        bm[b] = 0

    if find_alignment:
        data = _AlignData(nblocks, tlen)
    elif target_stop > -1:
        data = _AlignData(nblocks, 1)
    else:
        data = None

    for c in range(tlen):
        peq_c = peq[t_codes[c]]
        hout = 1
        for b in range(first, last + 1):
            bp[b], bm[b], hout = _advance(bp[b], bm[b], peq_c[b], hout)
            bs[b] += hout

        # tighten k: the final score can exceed the current bottom-of-band
        # cell by at most the remaining rows/columns.
        k = min(k, bs[last]
                + max(tlen - c - 1, qlen - ((1 + last) * WORD - 1) - 1)
                + (w if last == nblocks - 1 else 0))

        # -- extend band down if the next block may enter it --
        if (last + 1 < nblocks
                and not ((last + 1) * WORD - 1
                         > k - bs[last] + 2 * WORD - 2 - tlen + c + qlen)):
            last += 1
            bp[last] = M64
            bm[last] = 0
            new_hout = _advance_into(bp, bm, bs, last, peq_c[last], hout)
            hout = new_hout

        # -- shrink band from below --
        while (last >= first
               and (bs[last] >= k + WORD
                    or ((last + 1) * WORD - 1 >
                        k - bs[last] + 2 * WORD - 2 - tlen + c + qlen + 1))):
            last -= 1

        # -- shrink band from above --
        while (first <= last
               and (bs[first] >= k + WORD
                    or ((first + 1) * WORD - 1 <
                        bs[first] - k - tlen + qlen + c))):
            first += 1

        if c % _STRONG_REDUCE_NUM == 0:
            while last >= first:
                cells = _block_cells(bp[last], bm[last], bs[last])
                ncells = WORD - w if last == nblocks - 1 else WORD
                r = last * WORD + ncells - 1
                reduce = True
                for i in range(WORD - ncells, WORD):
                    if cells[i] <= k and r <= k - cells[i] - tlen + c + qlen + 1:
                        reduce = False
                        break
                    r -= 1
                if not reduce:
                    break
                last -= 1
            while first <= last:
                cells = _block_cells(bp[first], bm[first], bs[first])
                ncells = WORD - w if first == nblocks - 1 else WORD
                r = first * WORD + ncells - 1
                reduce = True
                for i in range(WORD - ncells, WORD):
                    if cells[i] <= k and r >= cells[i] - k - tlen + c + qlen:
                        reduce = False
                        break
                    r -= 1
                if not reduce:
                    break
                first += 1

        if last < first:  # band died
            return -1, -1, data

        if find_alignment:
            base = nblocks * c
            for b in range(first, last + 1):
                data.ps[base + b] = bp[b]
                data.ms[base + b] = bm[b]
                data.scores[base + b] = bs[b]
            data.first_blocks[c] = first
            data.last_blocks[c] = last

        if c == target_stop:
            for b in range(first, last + 1):
                data.ps[b] = bp[b]
                data.ms[b] = bm[b]
                data.scores[b] = bs[b]
            data.first_blocks[0] = first
            data.last_blocks[0] = last
            return -1, target_stop, data

    if last == nblocks - 1:
        best = _block_cells(bp[last], bm[last], bs[last])[w]
        if best <= k:
            return best, tlen - 1, data
    return -1, -1, data


def _advance_into(bp, bm, bs, b, eq_w, hin):
    """Initialize block b to boundary state and advance it one column
    (reference band-extension step, edlib/src/edlib.cpp:803-808)."""
    bp[b], bm[b], hout = _advance(bp[b], bm[b], eq_w, hin)
    bs[b] = bs[b - 1] - hin + WORD + hout
    return hout


# --------------------------------------------------------------------------
# Path reconstruction
# --------------------------------------------------------------------------

def _traceback(qlen, tlen, best, data: _AlignData):
    """Walk saved P/M/score blocks from the bottom-right corner, emitting
    move codes (reference obtainAlignmentTraceback,
    edlib/src/edlib.cpp:931-1141)."""
    nblocks = data.nblocks
    w = nblocks * WORD - qlen

    path = []
    c = tlen - 1
    b = nblocks - 1
    curr_score = best
    l_score = u_score = ul_score = -1
    curr_p = data.ps[c * nblocks + b]
    curr_m = data.ms[c * nblocks + b]
    left_exists = (c > 0 and data.first_blocks[c - 1] <= b
                   <= data.last_blocks[c - 1])
    l_p = l_m = 0
    if left_exists:
        l_p = data.ps[(c - 1) * nblocks + b]
        l_m = data.ms[(c - 1) * nblocks + b]
    curr_p = (curr_p << w) & M64
    curr_m = (curr_m << w) & M64
    block_pos = WORD - w - 1

    while True:
        if c == 0:
            left_exists = True
            l_score = b * WORD + block_pos + 1
            ul_score = l_score - 1

        if l_score == -1 and left_exists:
            l_score = data.scores[(c - 1) * nblocks + b]
            for _ in range(WORD - block_pos - 1):
                if l_p & HIGH:
                    l_score -= 1
                if l_m & HIGH:
                    l_score += 1
                l_p = (l_p << 1) & M64
                l_m = (l_m << 1) & M64
        if ul_score == -1:
            if l_score != -1:
                ul_score = l_score
                if l_p & HIGH:
                    ul_score -= 1
                if l_m & HIGH:
                    ul_score += 1
            elif (c > 0 and data.first_blocks[c - 1] <= b - 1
                  <= data.last_blocks[c - 1]):
                ul_score = data.scores[(c - 1) * nblocks + b - 1]
        if u_score == -1:
            u_score = curr_score
            if curr_p & HIGH:
                u_score -= 1
            if curr_m & HIGH:
                u_score += 1
            curr_p = (curr_p << 1) & M64
            curr_m = (curr_m << 1) & M64

        # -- choose move (up > left > diagonal, same priority order as the
        # reference so paths match byte-for-byte) --
        if u_score != -1 and u_score + 1 == curr_score:
            curr_score = u_score
            l_score = ul_score
            u_score = ul_score = -1
            if block_pos == 0:
                if b == 0:
                    path.append(OP_INSERT)
                    path.extend([OP_DELETE] * (c + 1))
                    break
                block_pos = WORD - 1
                b -= 1
                curr_p = data.ps[c * nblocks + b]
                curr_m = data.ms[c * nblocks + b]
                if (c > 0 and data.first_blocks[c - 1] <= b
                        <= data.last_blocks[c - 1]):
                    left_exists = True
                    l_p = data.ps[(c - 1) * nblocks + b]
                    l_m = data.ms[(c - 1) * nblocks + b]
                else:
                    left_exists = False
            else:
                block_pos -= 1
                l_p = (l_p << 1) & M64
                l_m = (l_m << 1) & M64
            path.append(OP_INSERT)
        elif l_score != -1 and l_score + 1 == curr_score:
            curr_score = l_score
            u_score = ul_score
            l_score = ul_score = -1
            c -= 1
            if c == -1:
                path.append(OP_DELETE)
                path.extend([OP_INSERT] * (b * WORD + block_pos + 1))
                break
            curr_p = l_p
            curr_m = l_m
            if (c > 0 and data.first_blocks[c - 1] <= b
                    <= data.last_blocks[c - 1]):
                left_exists = True
                l_p = data.ps[(c - 1) * nblocks + b]
                l_m = data.ms[(c - 1) * nblocks + b]
            else:
                if c == 0:
                    left_exists = True
                    l_score = b * WORD + block_pos + 1
                    ul_score = l_score - 1
                else:
                    left_exists = False
            path.append(OP_DELETE)
        elif ul_score != -1:
            move = OP_MATCH if ul_score == curr_score else OP_MISMATCH
            curr_score = ul_score
            u_score = l_score = ul_score = -1
            c -= 1
            if c == -1:
                path.append(move)
                path.extend([OP_INSERT] * (b * WORD + block_pos))
                break
            if block_pos == 0:
                if b == 0:
                    path.append(move)
                    path.extend([OP_DELETE] * (c + 1))
                    break
                block_pos = WORD - 1
                b -= 1
                curr_p = data.ps[c * nblocks + b]
                curr_m = data.ms[c * nblocks + b]
            else:
                block_pos -= 1
                curr_p = (l_p << 1) & M64
                curr_m = (l_m << 1) & M64
            if (c > 0 and data.first_blocks[c - 1] <= b
                    <= data.last_blocks[c - 1]):
                left_exists = True
                l_p = data.ps[(c - 1) * nblocks + b]
                l_m = data.ms[(c - 1) * nblocks + b]
            else:
                if c == 0:
                    left_exists = True
                    l_score = b * WORD + block_pos + 1
                    ul_score = l_score - 1
                else:
                    left_exists = False
            path.append(move)
        else:
            break

    path.reverse()
    return path


def _read_block(p, m, score):
    """Cells of a block, top cell first (reference readBlock,
    edlib/src/edlib.cpp:489-499)."""
    cells = _block_cells(p, m, score)
    cells.reverse()
    return cells


def _direct_traceback(qlen, tlen):
    """Whether a pair's path comes from the direct traceback (saved
    band under _TRACEBACK_MEM_LIMIT) rather than Hirschberg — the
    reference's boundary, edlib.cpp:1186-1190.  ``_native.nw_align``
    mirrors this bound in C; change the two together.

    tlen == 1 must never reach _hirschberg: its left half would be
    empty and target_stop = left_width - 1 = -1 means "no stop" to the
    scan, not the virtual initial column the crossing search expects.
    The direct traceback's saved band is a single column here
    (O(nblocks) memory), so it is always safe."""
    mem = (2 * 8 + 4) * _ceil_div(qlen, WORD) * tlen + 2 * 4 * tlen
    return (mem < _TRACEBACK_MEM_LIMIT) | (tlen == 1)


def _obtain_alignment(q_codes, t_codes, eq, sigma, best):
    """Find one optimal path; traceback for small problems, Hirschberg
    divide-and-conquer otherwise (reference obtainAlignment,
    edlib/src/edlib.cpp:1144-1213, boundary 1186-1190)."""
    qlen = len(q_codes)
    tlen = len(t_codes)
    if qlen == 0 or tlen == 0:
        return [OP_DELETE] * tlen if qlen == 0 else [OP_INSERT] * qlen

    nblocks = _ceil_div(qlen, WORD)
    w = nblocks * WORD - qlen
    if _direct_traceback(qlen, tlen):
        peq = build_peq(sigma, q_codes, eq)
        _, _, data = _scan_nw(peq, w, nblocks, qlen, t_codes, best,
                              find_alignment=True)
        return _traceback(qlen, tlen, best, data)
    return _hirschberg(q_codes, t_codes, eq, sigma, best)


def _hirschberg(q_codes, t_codes, eq, sigma, best):
    """Linear-space path via divide and conquer (reference
    obtainAlignmentHirschberg, edlib/src/edlib.cpp:1216-1396, crossing
    search at 1314-1353)."""
    qlen = len(q_codes)
    tlen = len(t_codes)
    nblocks = _ceil_div(qlen, WORD)
    w = nblocks * WORD - qlen

    r_q = q_codes[::-1]
    r_t = t_codes[::-1]

    left_width = tlen // 2
    right_width = tlen - left_width

    peq = build_peq(sigma, q_codes, eq)
    r_peq = build_peq(sigma, r_q, eq)
    _, _, left_data = _scan_nw(peq, w, nblocks, qlen, t_codes, best,
                               target_stop=left_width - 1)
    _, _, right_data = _scan_nw(r_peq, w, nblocks, qlen, r_t, best,
                                target_stop=right_width - 1)
    if left_data is None or right_data is None:
        raise RuntimeError("hirschberg: banded scan lost the solution")

    # unwrap left column scores (top to bottom)
    fb, lb = left_data.first_blocks[0], left_data.last_blocks[0]
    scores_left = []
    for b in range(fb, lb + 1):
        scores_left.extend(_read_block(left_data.ps[b], left_data.ms[b],
                                       left_data.scores[b]))
    left_start = fb * WORD
    left_len = (lb - fb + 1) * WORD
    if lb == nblocks - 1:
        left_len -= w

    # unwrap right column scores, reversed so they read top to bottom of
    # the *forward* query
    fb_r, lb_r = right_data.first_blocks[0], right_data.last_blocks[0]
    scores_right = []
    for b in range(lb_r, fb_r - 1, -1):
        scores_right.extend(_block_cells(right_data.ps[b], right_data.ms[b],
                                         right_data.scores[b]))
    right_start = qlen - (lb_r + 1) * WORD
    right_len = (lb_r - fb_r + 1) * WORD
    if right_start < 0:  # strip reversed padding
        scores_right = scores_right[w:]
        right_start += w
        right_len -= w

    # find the crossing row: left[i] + right[i+1] == best
    found = False
    left_score = right_score = -1
    row = -1
    lo = max(left_start, right_start - 1)
    hi = min(left_start + left_len - 1, right_start + right_len - 2)
    for i in range(lo, hi + 1):
        ls = scores_left[i - left_start]
        rs = scores_right[i + 1 - right_start]
        if ls + rs == best:
            row, left_score, right_score = i, ls, rs
            found = True
            break
    if not found and left_start == 0 and right_start == 0:
        if left_width + scores_right[0] == best:
            row, left_score, right_score = -1, left_width, scores_right[0]
            found = True
    if (not found and left_start + left_len == qlen
            and right_start + right_len == qlen):
        if scores_left[left_len - 1] + right_width == best:
            row = qlen - 1
            left_score = scores_left[left_len - 1]
            right_score = right_width
            found = True
    if not found:
        raise RuntimeError("hirschberg: no crossing row found")

    ul_height = row + 1
    path_ul = _obtain_alignment(q_codes[:ul_height], t_codes[:left_width],
                                eq, sigma, left_score)
    path_lr = _obtain_alignment(q_codes[ul_height:], t_codes[left_width:],
                                eq, sigma, right_score)
    return path_ul + path_lr


# --------------------------------------------------------------------------
# CIGAR
# --------------------------------------------------------------------------

def path_to_cigar(path, extended=True) -> str:
    """Run-length encode a move-code path into a CIGAR string
    (reference edlibAlignmentToCigar, edlib/src/edlib.cpp:303-350).
    Extended format uses =/I/D/X; standard collapses = and X into M."""
    if extended:
        chars = ("=", "I", "D", "X")
    else:
        chars = ("M", "I", "D", "M")
    out = []
    prev = None
    run = 0
    for mv in path:
        ch = chars[mv]
        if ch != prev and prev is not None:
            out.append(f"{run}{prev}")
            run = 0
        prev = ch
        run += 1
    if prev is not None:
        out.append(f"{run}{prev}")
    return "".join(out)


# --------------------------------------------------------------------------
# Public API
# --------------------------------------------------------------------------

def align(query, target, mode="NW", task="distance", k=-1,
          additionalEqualities=None, max_alphabet=256,
          cigar_format="extended"):
    """Pairwise alignment with the reference's exact result semantics.

    Drop-in analogue of the reference Python binding's ``align``
    (bindings/python/edlib.pyx:56-155): returns a dict with
    ``editDistance``, ``alphabetLength``, ``locations`` (list of
    (start|None, end) tuples) and ``cigar`` (None unless task='path').
    ``cigar_format`` selects EXTENDED (=/X/I/D, the binding's only
    format) or STANDARD (M/I/D, the reference CLI's -f CIG_STD switch,
    apps/aligner/aligner.cpp:200-221).
    """
    if mode not in MODES:
        raise ValueError(f"invalid mode {mode!r}")
    if task not in TASKS:
        raise ValueError(f"invalid task {task!r}")
    if cigar_format not in ("extended", "standard"):
        raise ValueError(f"invalid cigar_format {cigar_format!r}")

    q_codes, t_codes, sigma, eq = encode_pair(
        query, target, additionalEqualities, max_alphabet)
    qlen, tlen = len(q_codes), len(t_codes)

    # empty-sequence short-circuit (reference edlib.cpp:165-184)
    if qlen == 0 or tlen == 0:
        if mode == "NW":
            dist, ends = max(qlen, tlen), [tlen - 1]
        else:
            dist, ends = qlen, [-1]
        # reference short-circuit returns before allocating
        # startLocations OR building any alignment (probed against the
        # compiled reference: cigar is NULL for every empty-input case,
        # even task='path'), so starts are None and cigar stays None
        starts = ([None] * len(ends) if task in ("locations", "path")
                  else None)
        return _result(dist, sigma, starts, ends, None)

    nblocks = _ceil_div(qlen, WORD)
    w = nblocks * WORD - qlen
    peq = build_peq(sigma, q_codes, eq)

    dynamic = k < 0
    kk = WORD if dynamic else k
    dist, ends = -1, []
    while True:
        if mode in ("HW", "SHW"):
            dist, ends = _scan_semiglobal(peq, w, nblocks, qlen, t_codes,
                                          kk, mode)
        else:
            dist, pos, _ = _scan_nw(peq, w, nblocks, qlen, t_codes, kk)
            ends = [pos] if dist >= 0 else []
        kk *= 2
        if not (dynamic and dist == -1):
            break

    starts = None
    cigar = None
    if dist >= 0:
        if mode == "NW":
            ends = [tlen - 1]
        if task in ("locations", "path"):
            starts = []
            if mode == "HW":
                r_q = q_codes[::-1]
                r_t = t_codes[::-1]
                r_peq = build_peq(sigma, r_q, eq)
                for end in ends:
                    if end == -1:
                        # query can start before the target; 0 mirrors the
                        # reference placeholder (edlib.cpp:237-249)
                        starts.append(0)
                        continue
                    _, pos_shw = _scan_semiglobal(
                        r_peq, w, nblocks, qlen,
                        r_t[tlen - end - 1:], dist, "SHW")
                    # last SHW position => path prefers mismatches over
                    # leading insertions (edlib.cpp:258-260)
                    starts.append(end - pos_shw[-1])
            else:
                starts = [0] * len(ends)
        if task == "path":
            start0, end0 = starts[0], ends[0]
            sub_t = t_codes[start0:end0 + 1]
            path = _obtain_alignment(q_codes, sub_t, eq, sigma, dist)
            cigar = path_to_cigar(path, extended=(cigar_format == "extended"))
    else:
        ends = []

    return _result(dist, sigma, starts, ends, cigar)


def _result(dist, sigma, starts, ends, cigar):
    locations = []
    for i, e in enumerate(ends):
        locations.append((starts[i] if starts is not None else None, e))
    return {
        "editDistance": dist,
        "alphabetLength": sigma,
        "locations": locations,
        "cigar": cigar,
    }


def get_nice_alignment(align_result, query, target, gap_symbol="-"):
    """Human-readable rendering of an alignment path; same output contract
    as the reference binding's getNiceAlignment
    (bindings/python/edlib.pyx:158-238)."""
    import re

    if not isinstance(align_result, dict):
        raise TypeError("align_result must be the dict returned by align()")
    cigar = align_result.get("cigar")
    if not cigar:
        raise ValueError("align() must be run with task='path'")
    tpos = align_result["locations"][0][0] or 0
    qpos = 0
    q_aln = m_aln = t_aln = ""
    for num, op in re.findall(r"(\d+)(\D)", cigar):
        n = int(num)
        if op == "=":
            t_aln += target[tpos:tpos + n]
            q_aln += query[qpos:qpos + n]
            m_aln += "|" * n
            tpos += n
            qpos += n
        elif op == "X":
            t_aln += target[tpos:tpos + n]
            q_aln += query[qpos:qpos + n]
            m_aln += "." * n
            tpos += n
            qpos += n
        elif op == "D":
            t_aln += target[tpos:tpos + n]
            q_aln += gap_symbol * n
            m_aln += gap_symbol * n
            tpos += n
        elif op == "I":
            t_aln += gap_symbol * n
            q_aln += query[qpos:qpos + n]
            m_aln += gap_symbol * n
            qpos += n
        else:
            raise ValueError(f"bad cigar op {op!r}")
    return {
        "query_aligned": q_aln,
        "matched_aligned": m_aln,
        "target_aligned": t_aln,
    }
