"""cffi-compiled banded Myers scans behind one batch entry,
``batch_align``, which runs every alignment step the engine compiles.

The C source (JIT-compiled once, cached on disk) holds ONE banded NW
scan, ``nw_scan``: a transcription of kernel._scan_nw and of the
reference's single myersCalcEditDistanceNW (edlib.cpp:707-928), the
one C home of the NW band rules (initial width, in-flight k
tightening, extend, the two shrinks, the strong reduce every 2048
columns).  ``batch_align`` (``native_batch``) follows edlibAlign per
pair: recode, Peq once, the scan at per-pair k, or edlib's k = 64,
128, ... doubling around the scan alone for k < 0 (edlib.cpp:196-217),
saving nothing.  NW pairs asked for a path then take ``nw_align``,
edlib's obtainAlignment (edlib.cpp:1144-1396) at k = d: under
kernel._direct_traceback's memory bound the scan saves every column
into reused batch buffers and ``nw_walk`` (a transcription of
kernel._traceback) walks it; past the bound a Hirschberg split saves
one column of a forward and of a reversed scan, finds their crossing
row and recurses into both halves (kernel._hirschberg).  The moves are
run-length encoded as a CIGAR.

HW / SHW distances keep their own semi-global scan (``sg_scan``), as
edlib keeps a separate myersCalcEditDistanceSemiGlobal.  One builder
makes the match profile (Peq) for every scan from dense codes plus
equality pairs in code space: the batch entry recodes each pair through
a generation-stamped codepoint table sized to the batch's largest
codepoint + 1 (any Unicode text, astral plane included, without the
reference's 256-symbol cap) and maps their codepoint equality pairs
through it.

Results equal the exact single-pair kernel (``kernel.align``, pure
Python); the differential tests run every batch case with and without
this library and compare every path with the Python scan + walk and
Hirschberg.  This is an implementation of the published Myers 1999
bit-vector algorithm with Ukkonen banding written from scratch for this
engine — NOT a copy of the reference C++ (semantics cross-checked
against the reference suite via the Python kernels).

Degrades loudly: if cffi or a C compiler is unavailable the import
leaves ``lib = None``, records the cause in ``build_error`` and emits
one ``RuntimeWarning``; ``batch`` then scores every pair with the exact
per-pair kernel (~100x slower).  A pair whose scratch buffers could not
be grown returns the ``UNSUPPORTED`` sentinel and is re-scored the same
way.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import warnings

import numpy as np

# INT32_MIN sentinel: allocation failed, batch.py re-scores the pair
# with the exact per-pair kernel
UNSUPPORTED = -2147483648

_SOURCE = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

typedef uint64_t word;
#define WBITS 64
#define UNSUPPORTED INT32_MIN

/* One Myers bit-parallel block step; returns carry in {-1,0,1}. */
static inline int step_block(word *pv, word *mv, word eq, int hin) {
    word pvv = *pv, mvv = *mv;
    word xv = eq | mvv;
    if (hin < 0) eq |= 1ULL;
    word xh = (((eq & pvv) + pvv) ^ pvv) | eq;
    word ph = mvv | ~(xh | pvv);
    word mh = pvv & xh;
    int hout = (int)(ph >> (WBITS - 1)) - (int)(mh >> (WBITS - 1));
    ph <<= 1; mh <<= 1;
    if (hin < 0) mh |= 1ULL;
    else if (hin > 0) ph |= 1ULL;
    *pv = mh | ~(xv | ph);
    *mv = ph & xv;
    return hout;
}

/* Where nw_scan saves its band.  target_stop < 0: every column, layout
   [c*nb + b], plus each column's first and last block — the
   traceback's input.  target_stop >= 0: only that column, into slot 0,
   and the scan stops there (the Hirschberg split). */
typedef struct {
    word *ps, *ms;
    int64_t *scores, *first_blocks, *last_blocks;
    int64_t target_stop;
} band_save;

/* Words of a band save of ncols columns. */
static inline int64_t band_words(int64_t nb, int64_t ncols) {
    return 3 * nb * ncols + 2 * ncols;
}

/* A band save of ncols columns (tlen, or 1 with a target_stop) laid
   out in band_words(nb, ncols) words at buf: ps, ms and scores (nb *
   ncols each), then first and last blocks. */
static band_save band_in(word *buf, int64_t nb, int64_t ncols,
                         int64_t target_stop) {
    band_save b = {buf, buf + nb * ncols, (int64_t *)(buf + 2 * nb * ncols),
                   (int64_t *)(buf + 3 * nb * ncols),
                   (int64_t *)(buf + 3 * nb * ncols + ncols), target_stop};
    return b;
}

typedef struct {
    int32_t *map;       /* codepoint -> dense symbol id, n_cp entries */
    int64_t *stamp;     /* generation stamps (avoids per-pair memset) */
    int64_t gen;
    int64_t n_cp;       /* batch's largest codepoint + 1 */
    int32_t *qs, *ts;   /* recoded scratch */
    word *peq, *peq2, *pv, *mv;
    int64_t *score;
    int64_t cap_nb, cap_sigma, cap_q, cap_t;
    const uint32_t *eqa, *eqb;  /* additional-equality codepoint pairs */
    int64_t n_eq;
    int32_t *eqca, *eqcb;       /* the same pairs in the current pair's codes */
    int64_t n_ceq;              /* ... of which the current pair has */
    word *band;                 /* path moves + nw_align's band, scratch_band */
    int64_t cap_band;
} scratch;

/* Per-pair alphabet inference through the generation-stamped map
   (no per-pair memset): dense codes in order of first occurrence,
   query first — kernel.encode_pair's numbering.  Writes the recoded
   pair to s->qs / s->ts and returns its alphabet size. */
static int32_t recode_pair(const uint32_t *q, int64_t qlen,
                           const uint32_t *t, int64_t tlen, scratch *s) {
    s->gen++;
    int32_t sigma = 0;
    for (int64_t i = 0; i < qlen; i++) {
        uint32_t c = q[i];
        if (s->stamp[c] != s->gen) { s->stamp[c] = s->gen;
                                     s->map[c] = sigma++; }
        s->qs[i] = s->map[c];
    }
    for (int64_t i = 0; i < tlen; i++) {
        uint32_t c = t[i];
        if (s->stamp[c] != s->gen) { s->stamp[c] = s->gen;
                                     s->map[c] = sigma++; }
        s->ts[i] = s->map[c];
    }
    return sigma;
}

/* The match profile (edlib's buildPeq, edlib.cpp:352-384; kernel.build_peq)
   over dense query codes qs: sigma planes of nb words, bit r of plane
   c set iff query row r matches symbol c; padding rows past the query
   end match every symbol.  (eqa[e], eqb[e]) are additional equalities
   in code space: each pair ORs the other symbol's query rows into both
   planes, read from a SNAPSHOT of the identity planes in snap (sigma *
   nb words, untouched when n_eq == 0), so the relation is not
   transitive ('N'~'A' and 'N'~'C' must not imply 'A'~'C'), matching
   the reference matrix (edlib.cpp:63-94). */
static void build_peq(word *peq, word *snap, const int32_t *qs,
                      int64_t qlen, int64_t nb, int64_t sigma,
                      const int32_t *eqa, const int32_t *eqb,
                      int64_t n_eq) {
    memset(peq, 0, (size_t)(sigma * nb) * sizeof(word));
    for (int64_t r = 0; r < qlen; r++)
        peq[(int64_t)qs[r] * nb + (r >> 6)] |= 1ULL << (r & 63);
    if (n_eq > 0) {
        memcpy(snap, peq, (size_t)(sigma * nb) * sizeof(word));
        for (int64_t e = 0; e < n_eq; e++) {
            int64_t ca = eqa[e], cb = eqb[e];
            for (int64_t blk = 0; blk < nb; blk++) {
                peq[cb * nb + blk] |= snap[ca * nb + blk];
                peq[ca * nb + blk] |= snap[cb * nb + blk];
            }
        }
    }
    int64_t w = nb * WBITS - qlen;
    if (w > 0) {
        word padmask = ~0ULL << (WBITS - w);
        for (int64_t c = 0; c < sigma; c++) peq[c * nb + nb - 1] |= padmask;
    }
}

/* Map the batch's codepoint equality pairs through the stamped map of
   the pair recode_pair just mapped into s->eqca / s->eqcb (s->n_ceq of
   them); a pair naming a symbol this pair lacks drops out. */
static void map_equalities(scratch *s) {
    s->n_ceq = 0;
    for (int64_t e = 0; e < s->n_eq; e++) {
        uint32_t a = s->eqa[e], c = s->eqb[e];
        if (a >= s->n_cp || c >= s->n_cp) continue;
        if (s->stamp[a] != s->gen || s->stamp[c] != s->gen) continue;
        s->eqca[s->n_ceq] = s->map[a];
        s->eqcb[s->n_ceq] = s->map[c];
        s->n_ceq++;
    }
}

/* build_peq into s->peq for query codes q (the pair's query or a slice
   or reversal of it) under the pair's mapped equalities.  Needs sigma
   <= s->cap_sigma and ceil(qlen / 64) <= s->cap_nb. */
static void pair_peq(scratch *s, const int32_t *q, int64_t qlen,
                     int32_t sigma) {
    build_peq(s->peq, s->peq2, q, qlen, (qlen + WBITS - 1) / WBITS, sigma,
              s->eqca, s->eqcb, s->n_ceq);
}

static void scratch_free(scratch *s) {
    free(s->map); free(s->stamp); free(s->qs); free(s->ts); free(s->peq);
    free(s->peq2); free(s->pv); free(s->mv); free(s->score);
    free(s->eqca); free(s->eqcb);
    free(s->band);
}

/* Batch scratch: the codepoint table sized to the batch's largest
   codepoint (a few hundred entries for Latin text, 0x110000 at most),
   recode buffers for its longest sides, and a Peq profile for 512
   symbols that scratch_reserve grows on demand.  Returns 0, or -1
   (everything freed) when an allocation failed. */
static int scratch_init(scratch *s,
                        const uint32_t *qbuf, const int64_t *qstart,
                        const int64_t *qlens,
                        const uint32_t *tbuf, const int64_t *tstart,
                        const int64_t *tlens, int64_t n,
                        const uint32_t *eqa, const uint32_t *eqb,
                        int64_t n_eq) {
    int64_t max_nb = 1, max_q = 1, max_t = 1;
    uint32_t max_cp = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t ql = qlens[i];
        int64_t tl = tlens[i];
        int64_t nb = (ql + WBITS - 1) / WBITS;
        if (nb > max_nb) max_nb = nb;
        if (ql > max_q) max_q = ql;
        if (tl > max_t) max_t = tl;
        const uint32_t *qp = qbuf + qstart[i], *tp = tbuf + tstart[i];
        for (int64_t j = 0; j < ql; j++) if (qp[j] > max_cp) max_cp = qp[j];
        for (int64_t j = 0; j < tl; j++) if (tp[j] > max_cp) max_cp = tp[j];
    }
    int64_t n_cp = (int64_t)max_cp + 1;
    s->cap_nb = max_nb;
    s->cap_q = max_q; s->cap_t = max_t;
    s->cap_sigma = 512;
    s->gen = 0;
    s->n_cp = n_cp;
    s->eqa = eqa; s->eqb = eqb; s->n_eq = n_eq; s->n_ceq = 0;
    s->map = (int32_t *)malloc((size_t)n_cp * sizeof(int32_t));
    s->stamp = (int64_t *)calloc((size_t)n_cp, sizeof(int64_t));
    s->qs = (int32_t *)malloc((size_t)max_q * sizeof(int32_t));
    s->ts = (int32_t *)malloc((size_t)max_t * sizeof(int32_t));
    s->peq = (word *)malloc((size_t)(s->cap_sigma * max_nb) * sizeof(word));
    s->peq2 = NULL; s->eqca = NULL; s->eqcb = NULL;
    s->band = NULL; s->cap_band = 0;
    if (n_eq > 0) {
        s->peq2 = (word *)malloc((size_t)(s->cap_sigma * max_nb)
                                 * sizeof(word));
        s->eqca = (int32_t *)malloc((size_t)n_eq * sizeof(int32_t));
        s->eqcb = (int32_t *)malloc((size_t)n_eq * sizeof(int32_t));
    }
    s->pv = (word *)malloc((size_t)max_nb * sizeof(word));
    s->mv = (word *)malloc((size_t)max_nb * sizeof(word));
    s->score = (int64_t *)malloc((size_t)max_nb * sizeof(int64_t));
    if (!s->map || !s->stamp || !s->qs || !s->ts || !s->peq || !s->pv
        || !s->mv || !s->score
        || (n_eq > 0 && (!s->peq2 || !s->eqca || !s->eqcb))) {
        scratch_free(s);
        return -1;
    }
    return 0;
}

/* Grow the Peq profile to hold ``need`` symbols.  The new capacity is
   committed only after EVERY realloc succeeds: on failure the old
   (smaller) buffers stay valid and cap_sigma keeps its old value, so
   later pairs cannot write past the allocation.  Returns 1 on
   success, 0 on allocation failure. */
static int scratch_reserve(scratch *s, int64_t need) {
    if (need <= s->cap_sigma) return 1;
    int64_t new_sigma = s->cap_sigma;
    while (new_sigma < need) new_sigma *= 2;
    size_t bytes = (size_t)(new_sigma * s->cap_nb) * sizeof(word);
    word *np_ = (word *)realloc(s->peq, bytes);
    if (!np_) return 0;
    s->peq = np_;
    if (s->n_eq > 0) {
        word *np2 = (word *)realloc(s->peq2, bytes);
        if (!np2) return 0;
        s->peq2 = np2;
    }
    s->cap_sigma = new_sigma;
    return 1;
}

/* Grow the traceback buffer to ``words`` words, committing capacity
   as scratch_reserve does.  It is never zeroed: like the reference's
   alignData it is overwritten per pair, and nw_walk reads only inside
   each column's saved [first, last].  Returns 1 on success, 0 on
   allocation failure. */
static int scratch_band(scratch *s, int64_t words) {
    if (words <= s->cap_band) return 1;
    word *p = (word *)realloc(s->band, (size_t)words * sizeof(word));
    if (!p) return 0;
    s->band = p;
    s->cap_band = words;
    return 1;
}

/* Value of the cell in block row i (0 = top): the bottom cell's score
   minus the vertical deltas of the rows below row i (the reference's
   getBlockCellValues, edlib/src/edlib.cpp:470-482, one cell at a
   time; kernel._block_cells). */
static inline int64_t cell_value(word p, word m, int64_t score, int64_t i) {
    word below = (i == WBITS - 1) ? 0ULL : (~0ULL << (i + 1));
    return score - __builtin_popcountll(p & below)
           + __builtin_popcountll(m & below);
}

/* The banded NW scan: the one C home of the NW band rules, a
   transcription of kernel._scan_nw and of the reference's single
   myersCalcEditDistanceNW (edlib/src/edlib.cpp:707-928) — the
   k < |tlen-qlen| shortcut, the initial width, in-flight k tightening,
   extend, the two shrinks and the strong reduce every 2048 columns.
   Like the reference's findAlignment / targetStopPosition arguments,
   ``save`` picks what it keeps: NULL for batch_align's distance
   lane, every column for nw_path's traceback, and the target_stop
   column for nw_align's Hirschberg split.  The saved band's SHAPE
   feeds the traceback's block-availability checks and the split's
   crossing search, so tests/test_batch.py pins the paths built on it
   to the Python scan's.

   peq: the query's match profile over the target's dense codes t.
   bp/bm/bs: nb words of column state from the batch scratch; the scan
   allocates nothing.  Returns the distance, or -1 when it exceeds k or
   the scan stopped at target_stop. */
static int32_t nw_scan(int64_t qlen, const int32_t *t, int64_t tlen,
                       const word *peq, int64_t k,
                       word *bp, word *bm, int64_t *bs,
                       const band_save *save) {
    int64_t diff = qlen > tlen ? qlen - tlen : tlen - qlen;
    if (k < diff) return -1;
    {
        int64_t cap = qlen > tlen ? qlen : tlen;
        if (k > cap) k = cap;
    }
    int64_t nb = (qlen + WBITS - 1) / WBITS;
    int64_t w = nb * WBITS - qlen;

    int64_t first = 0;
    int64_t half = (k + qlen - tlen) / 2;     /* >= 0: k >= |q|-|t| */
    int64_t band = half < k ? half : k;
    int64_t last = (band + 1 + WBITS - 1) / WBITS;
    if (last > nb) last = nb;
    last -= 1;

    for (int64_t b = 0; b <= last; b++) {
        bs[b] = (b + 1) * WBITS;
        bp[b] = ~0ULL;
        bm[b] = 0ULL;
    }

    for (int64_t c = 0; c < tlen; c++) {
        const word *pq = peq + (int64_t)t[c] * nb;
        int hout = 1;
        for (int64_t b = first; b <= last; b++) {
            hout = step_block(&bp[b], &bm[b], pq[b], hout);
            bs[b] += hout;
        }

        /* tighten k (edlib.cpp:791-795): the final cell is at most
           this bottom-of-band cell plus the remaining rows/columns
           (+W padding when in the last block) */
        {
            int64_t rem_t = tlen - c - 1;
            int64_t rem_q = qlen - ((1 + last) * WBITS - 1) - 1;
            int64_t cap = bs[last] + (rem_t > rem_q ? rem_t : rem_q)
                          + (last == nb - 1 ? w : 0);
            if (cap < k) k = cap;
        }

        /* extend band down when the next block's bottom row is still
           diagonally feasible for <= k (edlib.cpp:797-808); the
           entering block starts from the previous column's boundary
           state and is advanced within this column */
        if (last + 1 < nb
            && !((last + 1) * WBITS - 1
                 > k - bs[last] + 2 * WBITS - 2 - tlen + c + qlen)) {
            last++;
            bp[last] = ~0ULL;
            bm[last] = 0ULL;
            int nh = step_block(&bp[last], &bm[last], pq[last], hout);
            bs[last] = bs[last - 1] - hout + WBITS + nh;
            hout = nh;
        }

        /* shrink from below: value-dead or diagonally infeasible
           (edlib.cpp:810-818, incl. the +1 slack) */
        while (last >= first
               && (bs[last] >= k + WBITS
                   || ((last + 1) * WBITS - 1
                       > k - bs[last] + 2 * WBITS - 2 - tlen + c + qlen
                         + 1))) {
            last--;
        }
        /* shrink from above (edlib.cpp:822-827) */
        while (first <= last
               && (bs[first] >= k + WBITS
                   || ((first + 1) * WBITS - 1
                       < bs[first] - k - tlen + qlen + c))) {
            first++;
        }

        /* strong reduce (STRONG_REDUCE_NUM): drop boundary blocks none
           of whose cells can still reach the final cell within k.  Each
           block test is an existence check, so it starts from the rows
           nearer the band's middle, where a live cell turns up first:
           top row down for the bottom block, bottom row up for the top
           one. */
        if (c % 2048 == 0) {
            while (last >= first) {
                int64_t ncells = (last == nb - 1) ? WBITS - w : WBITS;
                int reduce = 1;
                for (int64_t i = 0; i < ncells; i++) {
                    int64_t v = cell_value(bp[last], bm[last], bs[last], i);
                    if (v <= k && last * WBITS + i
                                  <= k - v - tlen + c + qlen + 1) {
                        reduce = 0;
                        break;
                    }
                }
                if (!reduce) break;
                last--;
            }
            while (first <= last) {
                int64_t ncells = (first == nb - 1) ? WBITS - w : WBITS;
                int reduce = 1;
                for (int64_t i = ncells - 1; i >= 0; i--) {
                    int64_t v = cell_value(bp[first], bm[first], bs[first],
                                           i);
                    if (v <= k && first * WBITS + i
                                  >= v - k - tlen + c + qlen) {
                        reduce = 0;
                        break;
                    }
                }
                if (!reduce) break;
                first++;
            }
        }

        if (last < first) return -1;      /* band death: provably > k */

        if (save && (save->target_stop < 0 || c == save->target_stop)) {
            int64_t slot = save->target_stop < 0 ? c : 0;
            for (int64_t b = first; b <= last; b++) {
                save->ps[nb * slot + b] = bp[b];
                save->ms[nb * slot + b] = bm[b];
                save->scores[nb * slot + b] = bs[b];
            }
            save->first_blocks[slot] = first;
            save->last_blocks[slot] = last;
            if (c == save->target_stop) return -1;
        }
    }

    if (last < nb - 1) return -1;
    int64_t best = cell_value(bp[last], bm[last], bs[last], WBITS - 1 - w);
    return (best <= k) ? (int32_t)best : -1;
}

/* The semi-global scan (edlib's separate
   myersCalcEditDistanceSemiGlobal, edlib.cpp:532-704) over a ready
   Peq profile, mode 1 = SHW, 2 = HW, at bound k >= 0 (HW: k <= qlen);
   pv/mv/score are nb words of column state.  The initial band covers
   ceil((k+1)/64) blocks (edlib.cpp:562).  Returns the distance, or -1
   when it exceeds k. */
static int32_t sg_scan(int64_t qlen, const int32_t *t, int64_t tlen,
                       const word *peq, int64_t k, int mode,
                       word *pv, word *mv, int64_t *score) {
    int64_t nb = (qlen + WBITS - 1) / WBITS;
    int64_t w = nb * WBITS - qlen;
    int64_t bl = (k + 1 + WBITS - 1) / WBITS, bf = 0;
    if (bl > nb) bl = nb;
    bl -= 1;
    for (int64_t b = 0; b <= bl; b++) {
        pv[b] = ~0ULL; mv[b] = 0ULL; score[b] = (b + 1) * WBITS;
    }
    int start_h = (mode == 2) ? 0 : 1;
    int64_t best = INT64_MAX;
    int64_t orig_k = k;

    for (int64_t j = 0; j < tlen; j++) {
        const word *pq = peq + (int64_t)t[j] * nb;
        int h = start_h;
        for (int64_t b = bf; b <= bl; b++) {
            h = step_block(&pv[b], &mv[b], pq[b], h);
            score[b] += h;
        }

        /* semi-global band step (edlib.cpp:600-641): extend when
           the PREVIOUS column's bottom value was <= k and the next
           block's first row can match or improve; otherwise shrink
           value-dead bottom blocks.  HW keeps block 0 alive (free
           starts make it a candidate every column). */
        if (bl < nb - 1 && (score[bl] - h <= k)
            && ((pq[bl + 1] & 1ULL) || h < 0)) {
            bl++;
            pv[bl] = ~0ULL; mv[bl] = 0ULL;
            int nh = step_block(&pv[bl], &mv[bl], pq[bl], h);
            score[bl] = score[bl - 1] - h + WBITS + nh;
            h = nh;
        } else {
            while (bl >= bf && score[bl] >= k + WBITS) bl--;
        }
        if (mode == 2) {
            if (bl < 0) bl = 0;
        } else {
            while (bf <= bl && score[bf] >= k + WBITS) bf++;
        }
        if (bl < bf)   /* SHW band death: no better score ahead */
            return (best <= orig_k) ? (int32_t)best : -1;

        if (bl == nb - 1) {
            int64_t lrow = cell_value(pv[nb - 1], mv[nb - 1], score[nb - 1],
                                      WBITS - 1 - w);
            if (lrow < best) {
                best = lrow;
                if (best < k) k = best;  /* improvements only */
            }
            if (best == 0) break;
        }
    }
    return (best <= orig_k) ? (int32_t)best : -1;
}

/* Traceback walk over a saved band (exact transcription of
   kernel._traceback / reference obtainAlignmentTraceback,
   edlib/src/edlib.cpp:931-1141).  Move codes: 0 match, 1 insert
   (up), 2 delete (left), 3 mismatch — kernel.OP_*.  Moves are
   emitted in reverse discovery order exactly like the Python walk,
   then flipped in place.  A move into a block outside its column's
   saved [first, last] also breaks the walk: the band is reused across
   pairs without zeroing, so nothing outside it is read.  Returns path
   length, or -1 if the walk broke (neither happens on a band saved
   with k >= best). */
static int64_t nw_walk(int64_t qlen, int64_t tlen, int64_t best,
                       int64_t nb,
                       const word *ps, const word *ms,
                       const int64_t *scores,
                       const int64_t *fbs, const int64_t *lbs,
                       int8_t *out) {
    const word HB = 1ULL << 63;
    int64_t w = nb * WBITS - qlen;
    int64_t cap = qlen + tlen;
    int64_t n = 0;
    int64_t c = tlen - 1;
    int64_t b = nb - 1;
    int64_t curr_score = best;
    int64_t l_score = -1, u_score = -1, ul_score = -1;
    word curr_p = ps[c * nb + b] << w;
    word curr_m = ms[c * nb + b] << w;
    int left_exists = (c > 0 && fbs[c - 1] <= b && b <= lbs[c - 1]);
    word l_p = 0, l_m = 0;
    if (left_exists) {
        l_p = ps[(c - 1) * nb + b];
        l_m = ms[(c - 1) * nb + b];
    }
    int64_t block_pos = WBITS - w - 1;

    for (;;) {
        if (c == 0) {
            left_exists = 1;
            l_score = b * WBITS + block_pos + 1;
            ul_score = l_score - 1;
        }
        if (l_score == -1 && left_exists) {
            l_score = scores[(c - 1) * nb + b];
            for (int64_t i = 0; i < WBITS - block_pos - 1; i++) {
                if (l_p & HB) l_score--;
                if (l_m & HB) l_score++;
                l_p <<= 1;
                l_m <<= 1;
            }
        }
        if (ul_score == -1) {
            if (l_score != -1) {
                ul_score = l_score;
                if (l_p & HB) ul_score--;
                if (l_m & HB) ul_score++;
            } else if (c > 0 && fbs[c - 1] <= b - 1
                       && b - 1 <= lbs[c - 1]) {
                ul_score = scores[(c - 1) * nb + b - 1];
            }
        }
        if (u_score == -1) {
            u_score = curr_score;
            if (curr_p & HB) u_score--;
            if (curr_m & HB) u_score++;
            curr_p <<= 1;
            curr_m <<= 1;
        }

        /* move priority: up > left > diagonal (reference order) */
        if (u_score != -1 && u_score + 1 == curr_score) {
            curr_score = u_score;
            l_score = ul_score;
            u_score = ul_score = -1;
            if (block_pos == 0) {
                if (b == 0) {
                    if (n + 2 + c > cap) return -1;
                    out[n++] = 1;
                    for (int64_t i = 0; i <= c; i++) out[n++] = 2;
                    break;
                }
                block_pos = WBITS - 1;
                b--;
                if (b < fbs[c] || b > lbs[c]) return -1;
                curr_p = ps[c * nb + b];
                curr_m = ms[c * nb + b];
                if (c > 0 && fbs[c - 1] <= b && b <= lbs[c - 1]) {
                    left_exists = 1;
                    l_p = ps[(c - 1) * nb + b];
                    l_m = ms[(c - 1) * nb + b];
                } else {
                    left_exists = 0;
                }
            } else {
                block_pos--;
                l_p <<= 1;
                l_m <<= 1;
            }
            if (n >= cap) return -1;
            out[n++] = 1;
        } else if (l_score != -1 && l_score + 1 == curr_score) {
            curr_score = l_score;
            u_score = ul_score;
            l_score = ul_score = -1;
            c--;
            if (c == -1) {
                int64_t extra = b * WBITS + block_pos + 1;
                if (n + 1 + extra > cap) return -1;
                out[n++] = 2;
                for (int64_t i = 0; i < extra; i++) out[n++] = 1;
                break;
            }
            curr_p = l_p;
            curr_m = l_m;
            if (c > 0 && fbs[c - 1] <= b && b <= lbs[c - 1]) {
                left_exists = 1;
                l_p = ps[(c - 1) * nb + b];
                l_m = ms[(c - 1) * nb + b];
            } else if (c == 0) {
                left_exists = 1;
                l_score = b * WBITS + block_pos + 1;
                ul_score = l_score - 1;
            } else {
                left_exists = 0;
            }
            if (n >= cap) return -1;
            out[n++] = 2;
        } else if (ul_score != -1) {
            int8_t move = (ul_score == curr_score) ? 0 : 3;
            curr_score = ul_score;
            u_score = l_score = ul_score = -1;
            c--;
            if (c == -1) {
                int64_t extra = b * WBITS + block_pos;
                if (n + 1 + extra > cap) return -1;
                out[n++] = move;
                for (int64_t i = 0; i < extra; i++) out[n++] = 1;
                break;
            }
            if (block_pos == 0) {
                if (b == 0) {
                    if (n + 2 + c > cap) return -1;
                    out[n++] = move;
                    for (int64_t i = 0; i <= c; i++) out[n++] = 2;
                    break;
                }
                block_pos = WBITS - 1;
                b--;
                if (b < fbs[c] || b > lbs[c]) return -1;
                curr_p = ps[c * nb + b];
                curr_m = ms[c * nb + b];
            } else {
                block_pos--;
                curr_p = l_p << 1;
                curr_m = l_m << 1;
            }
            if (c > 0 && fbs[c - 1] <= b && b <= lbs[c - 1]) {
                left_exists = 1;
                l_p = ps[(c - 1) * nb + b];
                l_m = ms[(c - 1) * nb + b];
            } else if (c == 0) {
                left_exists = 1;
                l_score = b * WBITS + block_pos + 1;
                ul_score = l_score - 1;
            } else {
                left_exists = 0;
            }
            if (n >= cap) return -1;
            out[n++] = move;
        } else {
            break;
        }
    }
    for (int64_t i = 0, j = n - 1; i < j; i++, j--) {
        int8_t tmp = out[i];
        out[i] = out[j];
        out[j] = tmp;
    }
    return n;
}

/* Saved-band scan + traceback over a ready Peq profile (the direct
   arm of obtainAlignment); bp/bm/bs are nw_scan's column state and
   ``save`` (target_stop < 0) holds nb * tlen words per array and tlen
   columns, so nothing is allocated here.  Caller sizes out_moves to
   qlen + tlen.  Returns path length, or -1 when the scan exceeded
   ``best`` or the walk broke. */
static int64_t nw_path(int64_t qlen, const int32_t *t, int64_t tlen,
                       const word *peq, int64_t best,
                       word *bp, word *bm, int64_t *bs,
                       const band_save *save, int8_t *out_moves) {
    int32_t got = nw_scan(qlen, t, tlen, peq, best, bp, bm, bs, save);
    if (got < 0) return -1;
    return nw_walk(qlen, tlen, (int64_t)got, (qlen + WBITS - 1) / WBITS,
                   save->ps, save->ms, save->scores, save->first_blocks,
                   save->last_blocks, out_moves);
}

/* Value of row i of a single-column band save (nw_scan's target_stop
   slot 0). */
static inline int64_t saved_cell(const band_save *c, int64_t i) {
    return cell_value(c->ps[i / WBITS], c->ms[i / WBITS],
                      c->scores[i / WBITS], i % WBITS);
}

/* One optimal NW path of dense codes q / t at distance best: edlib's
   obtainAlignment (edlib.cpp:1144-1213; kernel._obtain_alignment).  The
   direct traceback (nw_path) runs while kernel._direct_traceback's
   memory bound holds (edlib.cpp:1186-1190); otherwise one Hirschberg
   split (obtainAlignmentHirschberg, edlib.cpp:1216-1396;
   kernel._hirschberg) finds the row where the forward scan's column
   tlen/2 - 1 and the reversed scan's column meet at best, and both
   halves recurse.  An empty half is all deletes (empty query) or all
   inserts.  Moves are appended at byte *n of s->band, whose first mw
   words hold them; the band past them is this call's working space,
   grown on demand.  Returns 0, or -1 when an allocation failed or the
   banded scans lost the solution (the caller re-runs the pair). */
static int nw_align(scratch *s, const int32_t *q, int64_t ql,
                    const int32_t *t, int64_t tl, int32_t sigma,
                    int64_t best, int64_t mw, int64_t *n) {
    if (ql == 0 || tl == 0) {
        memset((int8_t *)s->band + *n, ql == 0 ? 2 : 1,
               (size_t)(ql + tl));
        *n += ql + tl;
        return 0;
    }
    int64_t nb = (ql + WBITS - 1) / WBITS;
    if ((2 * 8 + 4) * nb * tl + 2 * 4 * tl < (1 << 20) || tl == 1) {
        if (!scratch_band(s, mw + band_words(nb, tl))) return -1;
        band_save save = band_in(s->band + mw, nb, tl, -1);
        pair_peq(s, q, ql, sigma);
        int64_t m = nw_path(ql, t, tl, s->peq, best, s->pv, s->mv, s->score,
                            &save, (int8_t *)s->band + *n);
        if (m < 0) return -1;
        *n += m;
        return 0;
    }
    /* both saved columns, then the reversed query and target */
    int64_t lw = tl / 2, rw = tl - lw, cw = band_words(nb, 1);
    if (!scratch_band(s, mw + 2 * cw + (ql + tl) / 2 + 1)) return -1;
    band_save left = band_in(s->band + mw, nb, 1, lw - 1);
    band_save right = band_in(s->band + mw + cw, nb, 1, rw - 1);
    int32_t *rq = (int32_t *)(s->band + mw + 2 * cw), *rt = rq + ql;
    for (int64_t i = 0; i < ql; i++) rq[i] = q[ql - 1 - i];
    for (int64_t i = 0; i < tl; i++) rt[i] = t[tl - 1 - i];
    left.last_blocks[0] = right.last_blocks[0] = -1;
    pair_peq(s, q, ql, sigma);
    nw_scan(ql, t, tl, s->peq, best, s->pv, s->mv, s->score, &left);
    pair_peq(s, rq, ql, sigma);
    nw_scan(ql, rt, tl, s->peq, best, s->pv, s->mv, s->score, &right);
    if (left.last_blocks[0] < 0 || right.last_blocks[0] < 0) return -1;

    /* left cell of forward row i: distance of q[0..i] to the left half;
       right cell of forward row i (reversed row ql-1-i): of q[i..] to
       the right half.  The crossing row: left(i) + right(i+1) == best
       (edlib.cpp:1314-1353). */
    int64_t l0 = left.first_blocks[0] * WBITS;
    int64_t l1 = (left.last_blocks[0] + 1) * WBITS;
    int64_t r0 = ql - (right.last_blocks[0] + 1) * WBITS;
    int64_t r1 = ql - right.first_blocks[0] * WBITS;
    if (l1 > ql) l1 = ql;
    if (r0 < 0) r0 = 0;
    int64_t row = -2, lsc = 0, rsc = 0;
    for (int64_t i = l0 > r0 - 1 ? l0 : r0 - 1;
         i < l1 && i < r1 - 1; i++) {
        lsc = saved_cell(&left, i);
        rsc = saved_cell(&right, ql - 2 - i);
        if (lsc + rsc == best) { row = i; break; }
    }
    if (row == -2 && l0 == 0 && r0 == 0
        && lw + saved_cell(&right, ql - 1) == best) {
        row = -1; lsc = lw; rsc = saved_cell(&right, ql - 1);
    }
    if (row == -2 && l1 == ql && r1 == ql
        && saved_cell(&left, ql - 1) + rw == best) {
        row = ql - 1; lsc = saved_cell(&left, ql - 1); rsc = rw;
    }
    if (row == -2) return -1;
    if (nw_align(s, q, row + 1, t, lw, sigma, lsc, mw, n) < 0) return -1;
    return nw_align(s, q + row + 1, ql - row - 1, t + lw, rw, sigma, rsc,
                    mw, n);
}

/* Run-length encode a move path (kernel.OP_* codes) as CIGAR text
   (kernel.path_to_cigar): =/I/D/X when extended, else M/I/D/M.
   Returns the bytes written, at most 2 * n (a run of L moves takes
   digits(L) + 1 <= 2L bytes). */
static int64_t cigar_rle(const int8_t *moves, int64_t n, int extended,
                         char *out) {
    const char *ops = extended ? "=IDX" : "MIDM";
    int64_t pos = 0;
    for (int64_t i = 0; i < n;) {
        char op = ops[moves[i]];
        int64_t j = i + 1;
        while (j < n && ops[moves[j]] == op) j++;
        char digits[20];
        int nd = 0;
        for (int64_t run = j - i; run > 0; run /= 10)
            digits[nd++] = (char)('0' + run % 10);
        while (nd > 0) out[pos++] = digits[--nd];
        out[pos++] = op;
        i = j;
    }
    return pos;
}

/* The one batch entry: edlibAlign's steps (edlib.cpp:146-301) for
   every pair of the flat codepoint encoding.  Per pair: recode it
   (sigma_out[i], its alphabet size); short-circuit an empty side,
   which ignores k (edlib.cpp:165-184); clamp an HW k to qlen; build
   the Peq once; run the scan (nw_scan, or sg_scan for mode 1 = SHW /
   2 = HW) at k = ks[i], or for ks[i] < 0 edlib's k = 64, 128, ...
   doubling around the scan alone, capped at the largest possible
   distance (edlib.cpp:196-217).  dist[i] is the distance, -1 when it
   exceeds k, or UNSUPPORTED when the Peq could not be grown.
   NW pairs with path[i] != 0 (path may be NULL), both sides non-empty
   and a distance also get their path at k = dist[i] (nw_align, edlib's
   obtainAlignment at bestScore: direct traceback or Hirschberg): the
   CIGAR (=/I/D/X when extended, else M/I/D) is appended to ``cigar``
   and cigar_end[i] is its end offset there (it starts at the previous
   non-negative end).  cigar_end[i] = -1 where no CIGAR was built: not
   asked for, no distance, or a band allocation / walk failure (the
   caller re-runs those pairs).  The
   caller sizes ``cigar`` to the sum of 2 * (qlen + tlen) over the
   asked-for pairs.  Returns 0, or -1 when the batch scratch could not
   be allocated. */
int batch_align(const uint32_t *qbuf, const int64_t *qstart,
                const int64_t *qlens,
                const uint32_t *tbuf, const int64_t *tstart,
                const int64_t *tlens,
                const int64_t *ks, int64_t n, int mode,
                const uint32_t *eqa, const uint32_t *eqb, int64_t n_eq,
                const uint8_t *path, int extended,
                int32_t *dist, int32_t *sigma_out, char *cigar,
                int64_t *cigar_end) {
    scratch s;
    if (scratch_init(&s, qbuf, qstart, qlens, tbuf, tstart, tlens, n,
                     eqa, eqb, n_eq) != 0)
        return -1;
    int64_t pos = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t ql = qlens[i];
        int64_t tl = tlens[i];
        int32_t sigma = recode_pair(qbuf + qstart[i], ql, tbuf + tstart[i],
                                    tl, &s);
        sigma_out[i] = sigma;
        cigar_end[i] = -1;
        int64_t cap = (mode == 0 && tl > ql) ? tl : ql;
        if (ql == 0 || tl == 0) { dist[i] = (int32_t)cap; continue; }
        int64_t k = ks[i] >= 0 ? ks[i] : WBITS;
        if ((ks[i] < 0 || mode == 2) && k > cap) k = cap;
        if (!scratch_reserve(&s, sigma)) { dist[i] = UNSUPPORTED; continue; }
        map_equalities(&s);
        pair_peq(&s, s.qs, ql, sigma);
        int32_t d;
        while ((d = mode == 0
                    ? nw_scan(ql, s.ts, tl, s.peq, k, s.pv, s.mv, s.score,
                              NULL)
                    : sg_scan(ql, s.ts, tl, s.peq, k, mode, s.pv, s.mv,
                              s.score)) == -1
               && ks[i] < 0 && k < cap)
            k = 2 * k < cap ? 2 * k : cap;
        dist[i] = d;
        if (!path || !path[i] || mode != 0 || d < 0) continue;
        /* ql + tl moves lead s.band, nw_align's working band follows */
        int64_t m = 0;
        if (nw_align(&s, s.qs, ql, s.ts, tl, sigma, d, (ql + tl) / 8 + 1,
                     &m) < 0)
            continue;
        pos += cigar_rle((int8_t *)s.band, m, extended, cigar + pos);
        cigar_end[i] = pos;
    }
    scratch_free(&s);
    return 0;
}
"""

_CDEF = """
int batch_align(const uint32_t *qbuf, const int64_t *qstart,
                const int64_t *qlens,
                const uint32_t *tbuf, const int64_t *tstart,
                const int64_t *tlens,
                const int64_t *ks, int64_t n, int mode,
                const uint32_t *eqa, const uint32_t *eqb, int64_t n_eq,
                const uint8_t *path, int extended,
                int32_t *dist, int32_t *sigma_out, char *cigar,
                int64_t *cigar_end);
"""

_COMPILE_ARGS = ["-O3", "-march=native"]

lib = None
ffi = None
build_error = None  # why the native build failed ("Type: message"), if it did


def _build():
    global lib, ffi, build_error
    try:
        from cffi import FFI
        # the cache key covers everything that shapes the module: a
        # changed cdef or flag must not load a stale .so whose wrappers
        # have the old signatures
        key = "\0".join([_SOURCE, _CDEF, *_COMPILE_ARGS])
        tag = hashlib.sha256(key.encode()).hexdigest()[:12]
        cache = os.path.join(os.path.expanduser("~"), ".cache",
                             "edlib_spark_native", tag)
        os.makedirs(cache, exist_ok=True)
        builder = FFI()
        builder.cdef(_CDEF)
        modname = f"_edlib_spark_native_{tag}"
        so_candidates = [fn for fn in os.listdir(cache)
                         if fn.startswith(modname) and fn.endswith(".so")]
        if not so_candidates:
            # Compile in a PRIVATE per-process dir, then atomically
            # publish the .so: 32 Python UDF workers import this module
            # near-simultaneously on a cold cache, and concurrent cffi
            # compiles into one dir race on the output file (a reader
            # can dlopen a half-written .so and silently fall back to
            # the per-pair kernel).  Concurrent builds waste CPU but
            # every publish is atomic; session.get_spark pre-imports
            # this module in the driver so the normal path is ONE
            # compile, before workers.
            builddir = os.path.join(cache, f"build-{os.getpid()}")
            os.makedirs(builddir, exist_ok=True)
            builder.set_source(modname, _SOURCE,
                               extra_compile_args=_COMPILE_ARGS)
            builder.compile(tmpdir=builddir, verbose=False)
            built = [fn for fn in os.listdir(builddir)
                     if fn.startswith(modname) and fn.endswith(".so")]
            os.replace(os.path.join(builddir, built[0]),
                       os.path.join(cache, built[0]))
            shutil.rmtree(builddir, ignore_errors=True)
            so_candidates = [built[0]]
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            modname, os.path.join(cache, so_candidates[0]))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        lib = mod.lib
        ffi = mod.ffi
        build_error = None
    except Exception as exc:  # noqa: BLE001 — any failure => fallback
        lib = None
        ffi = None
        build_error = f"{type(exc).__name__}: {exc}"
        warnings.warn(
            "edlib_spark native kernel unavailable, scoring falls back to "
            f"the ~100x slower exact per-pair kernel: {build_error}",
            RuntimeWarning, stacklevel=2)


_build()


def native_batch(q_flat, q_start, q_lens, t_flat, t_start, t_lens, ks,
                 mode: str, equalities=None, path=None, extended=True):
    """Both alignment lanes for a whole batch in one C call
    (``batch_align``), over the flat uint32 codepoint encoding
    ``batch.encode_flat`` builds — no copying or recoding in Python.

    ``ks``: per-pair bounds; k < 0 runs the dynamic-k doubling.
    ``equalities``: optional (eqa, eqb) pair of uint32 codepoint arrays
    (additional-equality pairs applied to every pair).  ``path``:
    optional per-pair bool mask (NW only) of the pairs whose CIGAR to
    build at k = their distance, by direct traceback or Hirschberg as
    ``kernel._obtain_alignment`` picks (extended =/I/D/X or standard
    M/I/D).

    Returns ``(dist, sigma, cigars)``: int32 distances (-1 past k, the
    ``UNSUPPORTED`` sentinel per unscored pair), int32 alphabet sizes,
    and a list holding each masked pair's CIGAR where it was built and
    None elsewhere — an empty side, no distance, or an allocation / walk
    failure the caller re-runs per pair.  None when the native library
    is unavailable or the batch scratch could not be allocated."""
    if lib is None:
        return None
    n = len(q_lens)
    ks = np.ascontiguousarray(ks, dtype=np.int64)
    # the C entry reads one entry per pair from each
    if len(ks) != n or (path is not None and len(path) != n):
        raise ValueError("ks and path need one entry per pair")
    dist = np.empty(n, dtype=np.int32)
    sigma = np.empty(n, dtype=np.int32)
    ends = np.empty(n, dtype=np.int64)
    if path is None:
        path_p, cap = ffi.NULL, 0
    else:
        if mode != "NW":
            raise ValueError("only NW pairs trace a path")
        path = np.ascontiguousarray(path, dtype=np.uint8)
        path_p = ffi.cast("const uint8_t *", path.ctypes.data)
        cap = int(np.where(path, 2 * (q_lens + t_lens), 0).sum())
    buf = np.empty(max(cap, 1), dtype=np.uint8)
    rc = lib.batch_align(
        *_flat_args(q_flat, q_start, q_lens, t_flat, t_start, t_lens),
        ffi.cast("const int64_t *", ks.ctypes.data), n,
        {"NW": 0, "SHW": 1, "HW": 2}[mode], *_equality_args(equalities),
        path_p, int(bool(extended)),
        ffi.cast("int32_t *", dist.ctypes.data),
        ffi.cast("int32_t *", sigma.ctypes.data),
        ffi.cast("char *", buf.ctypes.data),
        ffi.cast("int64_t *", ends.ctypes.data))
    if rc != 0:
        return None
    if path is None:
        return dist, sigma, [None] * n
    ends = ends.tolist()
    text = buf[:max([0, *ends])].tobytes().decode("ascii")
    cigars = []
    start = 0
    for end in ends:
        if end < 0:
            cigars.append(None)
        else:
            cigars.append(text[start:end])
            start = end
    return dist, sigma, cigars


def _flat_args(q_flat, q_start, q_lens, t_flat, t_start, t_lens):
    """C pointers of the flat (buffer, start, length) encoding of both
    sides, in the kernels' argument order."""
    return (ffi.cast("const uint32_t *", q_flat.ctypes.data),
            ffi.cast("const int64_t *", q_start.ctypes.data),
            ffi.cast("const int64_t *", q_lens.ctypes.data),
            ffi.cast("const uint32_t *", t_flat.ctypes.data),
            ffi.cast("const int64_t *", t_start.ctypes.data),
            ffi.cast("const int64_t *", t_lens.ctypes.data))


def _equality_args(equalities):
    """(eqa, eqb, n_eq) C arguments for an optional (eqa, eqb) pair of
    uint32 codepoint arrays (``from_buffer`` keeps the arrays alive)."""
    if equalities is None:
        return ffi.NULL, ffi.NULL, 0
    eqa = np.ascontiguousarray(equalities[0], dtype=np.uint32)
    eqb = np.ascontiguousarray(equalities[1], dtype=np.uint32)
    return (ffi.from_buffer("uint32_t[]", eqa),
            ffi.from_buffer("uint32_t[]", eqb), len(eqa))

