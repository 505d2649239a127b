"""Optional cffi-compiled inner loop for the batch distance kernel.

The numpy batch kernel (edlib_spark.batch) amortizes Python overhead
across pairs but still pays ~0.3-1.5ms/pair on transcript-sized strings.
This module JIT-compiles (once, cached on disk) a small C implementation
of the *same algorithm* — banded Myers bit-vector scan with per-pair k,
score-maintained Ukkonen band (extend while the bottom cell <= k, shrink
while a boundary block's bottom cell >= k+64), in-flight k tightening,
bottom-row popcount correction and band-death early exit — and runs it
per pair directly over raw codepoint buffers (per-pair alphabet mapping
happens in C via a generation-stamped table, like the reference's
transformSequences but without its 256-symbol cap: the table is sized
to the batch's largest codepoint + 1, so any Unicode text, astral
plane included, is scored here).

The same module carries the NW traceback (saved-band scan + walk, a
transcription of kernel._scan_nw / kernel._traceback) and
``batch_nw_align``, align_expr's NW lane for a whole Arrow batch: per
pair it recodes through the same stamped map, reports the alphabet
size and, where asked, runs the traceback at k = d and run-length
encodes the CIGAR into one shared byte buffer.

Results are bit-identical to the numpy path (the differential tests run
both).  This is an implementation of the published Myers 1999 bit-vector
algorithm with Ukkonen banding written from scratch for this engine —
NOT a copy of the reference C++ (semantics cross-checked against the
reference suite via the Python kernels).

Degrades loudly: if cffi or a C compiler is unavailable the import
leaves ``lib = None``, records the cause in ``build_error`` and emits
one ``RuntimeWarning``; callers then keep the pure-numpy path.  A pair
whose scratch buffers could not be grown returns the ``UNSUPPORTED``
sentinel and is re-scored by numpy.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import warnings

import numpy as np

UNSUPPORTED = -2147483648  # INT32_MIN sentinel: allocation failed, use numpy

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

/* Match profile of the pair recode_pair just mapped, into s->peq:
   sigma planes of nb words, bit r of plane c set iff query row r
   matches symbol c; padding rows past the query end match every
   symbol.  Needs sigma <= s->cap_sigma and nb <= s->cap_nb. */
static void fill_peq(scratch *s, int32_t sigma, int64_t qlen, int64_t nb) {
    word *peq = s->peq;
    memset(peq, 0, (size_t)(sigma * nb) * sizeof(word));
    for (int64_t r = 0; r < qlen; r++)
        peq[(int64_t)s->qs[r] * nb + (r >> 6)] |= 1ULL << (r & 63);
    if (s->n_eq > 0) {
        /* Additional equalities widen the match profile: plane[b] also
           gets the query-row bits of every symbol declared equal to b.
           ORs read a SNAPSHOT of the identity planes: the relation is
           not transitive ('N'~'A' and 'N'~'C' must not imply 'A'~'C'),
           matching the reference matrix (edlib.cpp:63-94). */
        memcpy(s->peq2, peq, (size_t)(sigma * nb) * sizeof(word));
        for (int64_t e = 0; e < s->n_eq; e++) {
            uint32_t a = s->eqa[e], c = s->eqb[e];
            if (a >= s->n_cp || c >= s->n_cp) continue;
            if (s->stamp[a] != s->gen || s->stamp[c] != s->gen) continue;
            int64_t ca = s->map[a], cb = s->map[c];
            if (ca == cb) continue;
            for (int64_t blk = 0; blk < nb; blk++) {
                peq[cb * nb + blk] |= s->peq2[ca * nb + blk];
                peq[ca * nb + blk] |= s->peq2[cb * nb + blk];
            }
        }
    }
    int64_t w = nb * WBITS - qlen;
    if (w > 0) {
        word padmask = ~0ULL << (WBITS - w);
        for (int32_t c = 0; c < sigma; c++) peq[c * nb + nb - 1] |= padmask;
    }
}

static void scratch_free(scratch *s) {
    free(s->map); free(s->stamp); free(s->qs); free(s->ts); free(s->peq);
    free(s->peq2); free(s->pv); free(s->mv); free(s->score);
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
    s->eqa = eqa; s->eqb = eqb; s->n_eq = n_eq;
    s->map = (int32_t *)malloc((size_t)n_cp * sizeof(int32_t));
    s->stamp = (int64_t *)calloc((size_t)n_cp, sizeof(int64_t));
    s->qs = (int32_t *)malloc((size_t)max_q * sizeof(int32_t));
    s->ts = (int32_t *)malloc((size_t)max_t * sizeof(int32_t));
    s->peq = (word *)malloc((size_t)(s->cap_sigma * max_nb) * sizeof(word));
    s->peq2 = (n_eq > 0)
        ? (word *)malloc((size_t)(s->cap_sigma * max_nb) * sizeof(word))
        : NULL;
    s->pv = (word *)malloc((size_t)max_nb * sizeof(word));
    s->mv = (word *)malloc((size_t)max_nb * sizeof(word));
    s->score = (int64_t *)malloc((size_t)max_nb * sizeof(int64_t));
    if (!s->map || !s->stamp || !s->qs || !s->ts || !s->peq || !s->pv
        || !s->mv || !s->score || (n_eq > 0 && !s->peq2)) {
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

/* Distance for one pair of raw codepoint sequences.
   mode: 0=NW, 1=SHW, 2=HW.  Returns distance, -1 if > k, or
   UNSUPPORTED when the scratch buffers are too small for the pair. */
static int32_t pair_distance(const uint32_t *q, int64_t qlen,
                             const uint32_t *t, int64_t tlen,
                             int64_t k, int mode, scratch *s) {
    if (qlen == 0 || tlen == 0) {
        /* reference short-circuit ignores k entirely (edlib.cpp:165-184) */
        int64_t d = (mode == 0) ? (qlen > tlen ? qlen : tlen) : qlen;
        return (int32_t)d;
    }
    if (k < 0) k = (mode == 0) ? (qlen > tlen ? qlen : tlen) : qlen;
    if (mode == 2 && k > qlen) k = qlen;
    if (mode == 0) {
        int64_t diff = qlen > tlen ? qlen - tlen : tlen - qlen;
        if (k < diff) return -1;
    }

    int32_t sigma = recode_pair(q, qlen, t, tlen, s);
    int64_t nb = (qlen + WBITS - 1) / WBITS;
    if (sigma > s->cap_sigma || nb > s->cap_nb) return UNSUPPORTED;

    fill_peq(s, sigma, qlen, nb);
    word *peq = s->peq;
    int64_t w = nb * WBITS - qlen;
    word topw = (w > 0) ? (~0ULL << (WBITS - w)) : 0ULL;

    word *pv = s->pv, *mv = s->mv;
    int64_t *score = s->score;
    /* Initial Ukkonen band (block indices [bf, bl]).  NW uses the
       reference's tighter formula based on the diagonal offset
       (edlib.cpp:755); semi-global covers ceil((k+1)/64) blocks
       (edlib.cpp:562). */
    int64_t bl, bf = 0;
    if (mode == 0) {
        int64_t diag = (k + qlen - tlen) / 2;   /* >= 0: k >= |q|-|t| */
        int64_t band = diag < k ? diag : k;
        bl = (band + 1 + WBITS - 1) / WBITS;
        if (bl > nb) bl = nb;
        bl -= 1;
    } else {
        bl = (k + 1 + WBITS - 1) / WBITS;
        if (bl > nb) bl = nb;
        bl -= 1;
    }
    for (int64_t b = 0; b <= bl; b++) {
        pv[b] = ~0ULL; mv[b] = 0ULL; score[b] = (b + 1) * WBITS;
    }
    int start_h = (mode == 2) ? 0 : 1;
    int64_t best = INT64_MAX;
    int64_t orig_k = k;

    for (int64_t j = 0; j < tlen; j++) {
        const word *pq = peq + (int64_t)s->ts[j] * nb;
        int h = start_h;
        for (int64_t b = bf; b <= bl; b++) {
            h = step_block(&pv[b], &mv[b], pq[b], h);
            score[b] += h;
        }

        if (mode == 0) {
            /* in-flight k tightening (edlib.cpp:791-795): the final
               cell is at most this bottom-of-band cell plus remaining
               rows/columns (+W padding when in the last block) */
            int64_t rem_t = tlen - j - 1;
            int64_t rem_q = qlen - ((bl + 1) * WBITS - 1) - 1;
            int64_t cap = score[bl] + (rem_t > rem_q ? rem_t : rem_q)
                          + (bl == nb - 1 ? w : 0);
            if (cap < k) k = cap;

            /* extend down when the next block's bottom row is still
               diagonally feasible for <= k (edlib.cpp:797-808); the
               entering block starts from the previous column's
               boundary state and is advanced within this column */
            if (bl + 1 < nb
                && !((bl + 1) * WBITS - 1
                     > k - score[bl] + 2 * WBITS - 2 - tlen + j + qlen)) {
                bl++;
                pv[bl] = ~0ULL; mv[bl] = 0ULL;
                int nh = step_block(&pv[bl], &mv[bl], pq[bl], h);
                score[bl] = score[bl - 1] - h + WBITS + nh;
                h = nh;
            }
            /* shrink from the bottom: value-dead or diagonally
               infeasible (edlib.cpp:810-818, incl. the +1 slack) */
            while (bl >= bf
                   && (score[bl] >= k + WBITS
                       || ((bl + 1) * WBITS - 1
                           > k - score[bl] + 2 * WBITS - 2 - tlen + j
                             + qlen + 1))) {
                bl--;
            }
            /* advance the top (edlib.cpp:822-827) */
            while (bf <= bl
                   && (score[bf] >= k + WBITS
                       || ((bf + 1) * WBITS - 1
                           < score[bf] - k - tlen + qlen + j))) {
                bf++;
            }
            if (bl < bf) return -1;       /* band death: provably > k */

            if (bl == nb - 1 && j == tlen - 1) {
                int64_t lrow = score[nb - 1]
                    - __builtin_popcountll(pv[nb - 1] & topw)
                    + __builtin_popcountll(mv[nb - 1] & topw);
                return (lrow <= k) ? (int32_t)lrow : -1;
            }
        } else {
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
                int64_t lrow = score[nb - 1]
                    - __builtin_popcountll(pv[nb - 1] & topw)
                    + __builtin_popcountll(mv[nb - 1] & topw);
                if (lrow < best) {
                    best = lrow;
                    if (best < k) k = best;  /* improvements only */
                }
                if (best == 0) break;
            }
        }
    }
    if (mode == 0) return -1;
    return (best <= orig_k) ? (int32_t)best : -1;
}

/* Values of all 64 cells of a block, bottom cell first (mirror of
   kernel._block_cells / reference getBlockCellValues,
   edlib/src/edlib.cpp:470-482). */
static void block_cells(word p, word m, int64_t score, int64_t *cells) {
    int64_t s = score;
    word mask = 1ULL << 63;
    for (int i = 0; i < WBITS - 1; i++) {
        cells[i] = s;
        if (p & mask) s--;
        if (m & mask) s++;
        mask >>= 1;
    }
    cells[WBITS - 1] = s;
}

/* Banded NW scan that SAVES the band (the find_alignment /
   target_stop scan, an exact transcription of kernel._scan_nw —
   reference myersCalcEditDistanceNW, edlib/src/edlib.cpp:707-928).
   The saved band's SHAPE feeds the traceback's block-availability
   checks, so every band move (initial width, in-flight k tightening,
   extend, shrink, the strong reduce every 2048 columns) must match
   the Python scan bit-for-bit — paths are pinned byte-exact against
   the compiled reference.

   Inputs: the query length, the target's dense symbol codes and the
   query's Peq profile over those codes (nw_fill_alignment builds it
   from kernel.encode_pair's equality matrix, batch_nw_align from the
   stamped recode).
   target_stop < 0: save every column into ps/ms/scores (layout
   [c*nblocks + b]) + first/last per column; returns best or -1.
   target_stop >= 0: save only that column into slot 0 (the
   Hirschberg hook) and return -1 on reaching it (same value the
   Python scan reports).  Returns INT32_MIN on allocation failure. */
static int32_t nw_scan_saved(int64_t qlen, const int32_t *t,
                             int64_t tlen, const word *peq,
                             int64_t k, int64_t target_stop,
                             uint64_t *ps, uint64_t *ms, int64_t *scores,
                             int64_t *first_blocks,
                             int64_t *last_blocks) {
    int64_t diff = qlen > tlen ? qlen - tlen : tlen - qlen;
    if (k < diff) return -1;
    {
        int64_t cap = qlen > tlen ? qlen : tlen;
        if (k > cap) k = cap;
    }
    int64_t nb = (qlen + WBITS - 1) / WBITS;
    int64_t w = nb * WBITS - qlen;

    word *bp = (word *)malloc((size_t)nb * sizeof(word));
    word *bm = (word *)malloc((size_t)nb * sizeof(word));
    int64_t *bs = (int64_t *)malloc((size_t)nb * sizeof(int64_t));
    int64_t *cells = (int64_t *)malloc(WBITS * sizeof(int64_t));
    if (!bp || !bm || !bs || !cells) {
        free(bp); free(bm); free(bs); free(cells);
        return INT32_MIN;
    }

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

    int32_t result = -1;
    for (int64_t c = 0; c < tlen; c++) {
        const word *pq = peq + (int64_t)t[c] * nb;
        int hout = 1;
        for (int64_t b = first; b <= last; b++) {
            hout = step_block(&bp[b], &bm[b], pq[b], hout);
            bs[b] += hout;
        }

        /* tighten k (kernel._scan_nw lines 339-343) */
        {
            int64_t rem_t = tlen - c - 1;
            int64_t rem_q = qlen - ((1 + last) * WBITS - 1) - 1;
            int64_t cap = bs[last] + (rem_t > rem_q ? rem_t : rem_q)
                          + (last == nb - 1 ? w : 0);
            if (cap < k) k = cap;
        }

        /* extend band down */
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

        /* shrink from below */
        while (last >= first
               && (bs[last] >= k + WBITS
                   || ((last + 1) * WBITS - 1
                       > k - bs[last] + 2 * WBITS - 2 - tlen + c + qlen
                         + 1))) {
            last--;
        }
        /* shrink from above */
        while (first <= last
               && (bs[first] >= k + WBITS
                   || ((first + 1) * WBITS - 1
                       < bs[first] - k - tlen + qlen + c))) {
            first++;
        }

        if (c % 2048 == 0) {     /* strong reduce (lines 369-395) */
            while (last >= first) {
                block_cells(bp[last], bm[last], bs[last], cells);
                int64_t ncells = (last == nb - 1) ? WBITS - w : WBITS;
                int64_t r = last * WBITS + ncells - 1;
                int reduce = 1;
                for (int64_t i = WBITS - ncells; i < WBITS; i++) {
                    if (cells[i] <= k
                        && r <= k - cells[i] - tlen + c + qlen + 1) {
                        reduce = 0;
                        break;
                    }
                    r--;
                }
                if (!reduce) break;
                last--;
            }
            while (first <= last) {
                block_cells(bp[first], bm[first], bs[first], cells);
                int64_t ncells = (first == nb - 1) ? WBITS - w : WBITS;
                int64_t r = first * WBITS + ncells - 1;
                int reduce = 1;
                for (int64_t i = WBITS - ncells; i < WBITS; i++) {
                    if (cells[i] <= k
                        && r >= cells[i] - k - tlen + c + qlen) {
                        reduce = 0;
                        break;
                    }
                    r--;
                }
                if (!reduce) break;
                first++;
            }
        }

        if (last < first) { result = -1; goto done; }   /* band died */

        if (target_stop < 0) {
            int64_t base = nb * c;
            for (int64_t b = first; b <= last; b++) {
                ps[base + b] = bp[b];
                ms[base + b] = bm[b];
                scores[base + b] = bs[b];
            }
            first_blocks[c] = first;
            last_blocks[c] = last;
        } else if (c == target_stop) {
            for (int64_t b = first; b <= last; b++) {
                ps[b] = bp[b];
                ms[b] = bm[b];
                scores[b] = bs[b];
            }
            first_blocks[0] = first;
            last_blocks[0] = last;
            result = -1;
            goto done;
        }
    }

    if (last == nb - 1) {
        block_cells(bp[last], bm[last], bs[last], cells);
        int64_t best = cells[w];
        if (best <= k) result = (int32_t)best;
    }
done:
    free(bp); free(bm); free(bs); free(cells);
    return result;
}

/* Peq planes from a dense pair's equality matrix (kernel.build_peq):
   bit r of plane s set iff eq[s][q[r]]; padding rows match every
   symbol.  NULL on allocation failure. */
static word *peq_from_matrix(const int32_t *q, int64_t qlen,
                             const uint8_t *eq, int64_t sigma) {
    int64_t nb = (qlen + WBITS - 1) / WBITS;
    int64_t w = nb * WBITS - qlen;
    word *peq = (word *)calloc((size_t)((sigma + 1) * nb), sizeof(word));
    if (!peq) return NULL;
    for (int64_t r = 0; r < qlen; r++) {
        int64_t qc = q[r];
        word bit = 1ULL << (r & 63);
        for (int64_t s = 0; s < sigma; s++)
            if (eq[s * sigma + qc]) peq[s * nb + (r >> 6)] |= bit;
    }
    if (w > 0) {
        word padmask = ~0ULL << (WBITS - w);
        for (int64_t s = 0; s < sigma; s++) peq[s * nb + nb - 1] |= padmask;
    }
    return peq;
}

int32_t nw_fill_alignment(const int32_t *q, int64_t qlen,
                          const int32_t *t, int64_t tlen,
                          const uint8_t *eq, int64_t sigma,
                          int64_t k, int64_t target_stop,
                          uint64_t *ps, uint64_t *ms, int64_t *scores,
                          int64_t *first_blocks, int64_t *last_blocks) {
    word *peq = peq_from_matrix(q, qlen, eq, sigma);
    if (!peq) return INT32_MIN;
    int32_t got = nw_scan_saved(qlen, t, tlen, peq, k, target_stop, ps, ms,
                                scores, first_blocks, last_blocks);
    free(peq);
    return got;
}

/* Traceback walk over a saved band (exact transcription of
   kernel._traceback / reference obtainAlignmentTraceback,
   edlib/src/edlib.cpp:931-1141).  Move codes: 0 match, 1 insert
   (up), 2 delete (left), 3 mismatch — kernel.OP_*.  Moves are
   emitted in reverse discovery order exactly like the Python walk,
   then flipped in place.  Returns path length, or -1 if the walk
   broke (cannot happen on a band saved with k >= best). */
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

/* Saved-band scan + traceback over a ready Peq profile.  Caller sizes
   out_moves to qlen + tlen.  Returns path length, -1 when the scan
   exceeded ``best`` or the walk broke, or INT32_MIN on allocation
   failure. */
static int64_t nw_path(int64_t qlen, const int32_t *t, int64_t tlen,
                       const word *peq, int64_t best, int8_t *out_moves) {
    int64_t nb = (qlen + WBITS - 1) / WBITS;
    word *ps = (word *)calloc((size_t)(nb * tlen), sizeof(word));
    word *ms = (word *)calloc((size_t)(nb * tlen), sizeof(word));
    int64_t *scores = (int64_t *)calloc((size_t)(nb * tlen),
                                        sizeof(int64_t));
    int64_t *fbs = (int64_t *)calloc((size_t)tlen, sizeof(int64_t));
    int64_t *lbs = (int64_t *)calloc((size_t)tlen, sizeof(int64_t));
    int64_t ret;
    if (!ps || !ms || !scores || !fbs || !lbs) {
        ret = INT32_MIN;
        goto out;
    }
    {
        int32_t got = nw_scan_saved(qlen, t, tlen, peq, best, -1, ps, ms,
                                    scores, fbs, lbs);
        if (got == INT32_MIN) { ret = INT32_MIN; goto out; }
        if (got < 0) { ret = -1; goto out; }
        ret = nw_walk(qlen, tlen, (int64_t)got, nb, ps, ms, scores,
                      fbs, lbs, out_moves);
    }
out:
    free(ps); free(ms); free(scores); free(fbs); free(lbs);
    return ret;
}

/* Saved-band scan + traceback in one call (the direct-traceback arm
   of kernel._obtain_alignment) for one dense-encoded pair.  Same
   returns as nw_path; -1 makes the caller fall back to Python. */
int64_t nw_align_path(const int32_t *q, int64_t qlen,
                      const int32_t *t, int64_t tlen,
                      const uint8_t *eq, int64_t sigma,
                      int64_t best, int8_t *out_moves) {
    word *peq = peq_from_matrix(q, qlen, eq, sigma);
    if (!peq) return INT32_MIN;
    int64_t ret = nw_path(qlen, t, tlen, peq, best, out_moves);
    free(peq);
    return ret;
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

/* align_expr's NW lane for a whole batch.  Writes the alphabet size of
   every pair to sigma_out.  Pairs with path_d[i] >= 0 (path_d may be
   NULL) and both sides non-empty also get their traceback at
   k = path_d[i], the exact distance: the CIGAR is appended to
   ``cigar`` and cigar_end[i] is its end offset there (it starts at the
   previous non-negative end).  cigar_end[i] = -1 where no CIGAR was
   built: not asked for, or a per-pair allocation / walk failure (the
   caller re-runs those pairs).  The caller sizes ``cigar`` to the sum
   of 2 * (qlen + tlen) over the asked-for pairs.  Returns 0, or -1
   when the batch scratch could not be allocated. */
int batch_nw_align(const uint32_t *qbuf, const int64_t *qstart,
                   const int64_t *qlens,
                   const uint32_t *tbuf, const int64_t *tstart,
                   const int64_t *tlens, int64_t n,
                   const uint32_t *eqa, const uint32_t *eqb, int64_t n_eq,
                   const int32_t *path_d, int extended,
                   int32_t *sigma_out, char *cigar, int64_t *cigar_end) {
    scratch s;
    if (scratch_init(&s, qbuf, qstart, qlens, tbuf, tstart, tlens, n,
                     eqa, eqb, n_eq) != 0)
        return -1;
    int8_t *moves = NULL;
    if (path_d) {
        moves = (int8_t *)malloc((size_t)(s.cap_q + s.cap_t));
        if (!moves) { scratch_free(&s); return -1; }
    }
    int64_t pos = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t ql = qlens[i];
        int64_t tl = tlens[i];
        int32_t sigma = recode_pair(qbuf + qstart[i], ql, tbuf + tstart[i],
                                    tl, &s);
        sigma_out[i] = sigma;
        cigar_end[i] = -1;
        if (!path_d || path_d[i] < 0 || ql == 0 || tl == 0) continue;
        if (!scratch_reserve(&s, sigma)) continue;
        int64_t nb = (ql + WBITS - 1) / WBITS;
        fill_peq(&s, sigma, ql, nb);
        int64_t m = nw_path(ql, s.ts, tl, s.peq, path_d[i], moves);
        if (m < 0) continue;
        pos += cigar_rle(moves, m, extended, cigar + pos);
        cigar_end[i] = pos;
    }
    free(moves);
    scratch_free(&s);
    return 0;
}

int batch_distance(const uint32_t *qbuf, const int64_t *qstart,
                   const int64_t *qlens,
                   const uint32_t *tbuf, const int64_t *tstart,
                   const int64_t *tlens,
                   const int64_t *ks, int64_t n, int mode,
                   const uint32_t *eqa, const uint32_t *eqb, int64_t n_eq,
                   int32_t *out) {
    scratch s;
    if (scratch_init(&s, qbuf, qstart, qlens, tbuf, tstart, tlens, n,
                     eqa, eqb, n_eq) != 0)
        return -1;
    for (int64_t i = 0; i < n; i++) {
        int64_t ql = qlens[i];
        int64_t tl = tlens[i];
        /* alphabet can't exceed ql + tl; grow peq when needed */
        int64_t need = ql + tl < s.n_cp ? ql + tl : s.n_cp;
        if (!scratch_reserve(&s, need)) { out[i] = UNSUPPORTED; continue; }
        out[i] = pair_distance(qbuf + qstart[i], ql, tbuf + tstart[i],
                               tl, ks[i], mode, &s);
    }
    scratch_free(&s);
    return 0;
}
"""

_CDEF = """
int batch_distance(const uint32_t *qbuf, const int64_t *qstart,
                   const int64_t *qlens,
                   const uint32_t *tbuf, const int64_t *tstart,
                   const int64_t *tlens,
                   const int64_t *ks, int64_t n, int mode,
                   const uint32_t *eqa, const uint32_t *eqb, int64_t n_eq,
                   int32_t *out);
int32_t nw_fill_alignment(const int32_t *q, int64_t qlen,
                          const int32_t *t, int64_t tlen,
                          const uint8_t *eq, int64_t sigma,
                          int64_t k, int64_t target_stop,
                          uint64_t *ps, uint64_t *ms, int64_t *scores,
                          int64_t *first_blocks, int64_t *last_blocks);
int64_t nw_align_path(const int32_t *q, int64_t qlen,
                      const int32_t *t, int64_t tlen,
                      const uint8_t *eq, int64_t sigma,
                      int64_t best, int8_t *out_moves);
int batch_nw_align(const uint32_t *qbuf, const int64_t *qstart,
                   const int64_t *qlens,
                   const uint32_t *tbuf, const int64_t *tstart,
                   const int64_t *tlens, int64_t n,
                   const uint32_t *eqa, const uint32_t *eqb, int64_t n_eq,
                   const int32_t *path_d, int extended,
                   int32_t *sigma_out, char *cigar, int64_t *cigar_end);
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
            # numpy).  Concurrent builds waste CPU but every publish is
            # atomic; session.get_spark pre-imports this module in the
            # driver so the normal path is ONE compile, before workers.
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
    except Exception as exc:  # noqa: BLE001 — any failure => numpy fallback
        lib = None
        ffi = None
        build_error = f"{type(exc).__name__}: {exc}"
        warnings.warn(
            "edlib_spark native kernel unavailable, scoring falls back to "
            f"the ~100x slower numpy scan: {build_error}",
            RuntimeWarning, stacklevel=2)


_build()


def native_batch_distance(q_flat, q_start, q_lens, t_flat, t_start,
                          t_lens, ks, mode: str, equalities=None):
    """Run the native kernel over flat uint32 codepoint buffers with
    per-pair (start, len) views — no copying or recoding in Python.
    ``equalities``: optional (eqa, eqb) pair of uint32 codepoint arrays
    (additional-equality pairs applied to every pair in the batch).
    Returns int32 results (UNSUPPORTED sentinel per unhandled pair), or
    None when the native library is unavailable."""
    if lib is None:
        return None
    n = len(q_lens)
    out = np.empty(n, dtype=np.int32)
    mode_id = {"NW": 0, "SHW": 1, "HW": 2}[mode]
    rc = lib.batch_distance(
        *_flat_args(q_flat, q_start, q_lens, t_flat, t_start, t_lens),
        ffi.cast("const int64_t *", ks.ctypes.data),
        n, mode_id, *_equality_args(equalities),
        ffi.cast("int32_t *", out.ctypes.data))
    if rc != 0:
        return None
    return out


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


def native_batch_align(q_flat, q_start, q_lens, t_flat, t_start, t_lens,
                       path_d=None, equalities=None, extended=True):
    """align_expr's NW lane for a whole batch in one C call, over the
    flat encoding ``batch.encode_flat`` builds.

    Returns ``(sigma, cigars)``: the int32 alphabet size of every pair,
    and a list holding the CIGAR of every pair with ``path_d[i] >= 0``
    and both sides non-empty (NW traceback at k = ``path_d[i]``, the
    pair's exact distance; extended =/I/D/X or standard M/I/D), None
    elsewhere — including pairs whose traceback could not be built
    (allocation failure), which the caller re-runs per pair.
    ``path_d=None`` computes alphabet sizes only.  ``equalities``: the
    optional (eqa, eqb) uint32 codepoint arrays.  Returns None when the
    native library is unavailable or the batch scratch could not be
    allocated."""
    if lib is None:
        return None
    n = len(q_lens)
    sigma = np.empty(n, dtype=np.int32)
    ends = np.empty(n, dtype=np.int64)
    if path_d is None:
        path_p, cap = ffi.NULL, 0
    else:
        path_d = np.ascontiguousarray(path_d, dtype=np.int32)
        if len(path_d) != n:   # C reads one entry per pair
            raise ValueError("path_d needs one entry per pair")
        path_p = ffi.cast("const int32_t *", path_d.ctypes.data)
        cap = int(np.where(path_d >= 0, 2 * (q_lens + t_lens), 0).sum())
    buf = np.empty(max(cap, 1), dtype=np.uint8)
    rc = lib.batch_nw_align(
        *_flat_args(q_flat, q_start, q_lens, t_flat, t_start, t_lens), n,
        *_equality_args(equalities), path_p, int(bool(extended)),
        ffi.cast("int32_t *", sigma.ctypes.data),
        ffi.cast("char *", buf.ctypes.data),
        ffi.cast("int64_t *", ends.ctypes.data))
    if rc != 0:
        return None
    ends = ends.tolist()
    text = buf[:max(ends, default=0)].tobytes().decode("ascii")
    cigars = []
    start = 0
    for end in ends:
        if end < 0:
            cigars.append(None)
        else:
            cigars.append(text[start:end])
            start = end
    return sigma, cigars


def native_fill_nw(q_codes, t_codes, eq, sigma, k, target_stop=-1):
    """Saved-band NW scan (the find_alignment / Hirschberg-hook scan)
    in C over one dense-encoded pair.

    Returns (best, ps, ms, scores, first_blocks, last_blocks) where
    the arrays use kernel._AlignData's [c*nblocks + b] layout (one
    column slot when ``target_stop`` >= 0), or None when the native
    library is unavailable or allocation failed — callers fall back to
    the pure-Python scan, which produces the identical band
    (differentially pinned in tests/test_batch.py)."""
    if lib is None:
        return None
    qlen, tlen = len(q_codes), len(t_codes)
    nb = (qlen + 63) // 64
    ncols = 1 if target_stop >= 0 else tlen
    ps = np.zeros(nb * ncols, dtype=np.uint64)
    ms = np.zeros(nb * ncols, dtype=np.uint64)
    scores = np.zeros(nb * ncols, dtype=np.int64)
    fb = np.zeros(ncols, dtype=np.int64)
    lb = np.zeros(ncols, dtype=np.int64)
    qa = np.ascontiguousarray(q_codes, dtype=np.int32)
    ta = np.ascontiguousarray(t_codes, dtype=np.int32)
    eqm = np.ascontiguousarray(eq, dtype=np.uint8)
    best = lib.nw_fill_alignment(
        ffi.cast("const int32_t *", qa.ctypes.data), qlen,
        ffi.cast("const int32_t *", ta.ctypes.data), tlen,
        ffi.cast("const uint8_t *", eqm.ctypes.data), int(sigma),
        int(k), int(target_stop),
        ffi.cast("uint64_t *", ps.ctypes.data),
        ffi.cast("uint64_t *", ms.ctypes.data),
        ffi.cast("int64_t *", scores.ctypes.data),
        ffi.cast("int64_t *", fb.ctypes.data),
        ffi.cast("int64_t *", lb.ctypes.data))
    if best == UNSUPPORTED:
        return None
    return best, ps, ms, scores, fb, lb


def native_align_path(q_codes, t_codes, eq, sigma, best):
    """Direct-traceback path (saved-band scan + walk) fully in C for
    one dense-encoded pair.  Returns the move-code list (kernel.OP_*),
    or None when the native library is unavailable or the native call
    could not produce a path — callers fall back to the pure-Python
    scan+walk, which is byte-identical (reference-parity suite +
    tests/test_batch.py pin both)."""
    if lib is None:
        return None
    qlen, tlen = len(q_codes), len(t_codes)
    qa = np.ascontiguousarray(q_codes, dtype=np.int32)
    ta = np.ascontiguousarray(t_codes, dtype=np.int32)
    eqm = np.ascontiguousarray(eq, dtype=np.uint8)
    moves = np.empty(qlen + tlen, dtype=np.int8)
    n = lib.nw_align_path(
        ffi.cast("const int32_t *", qa.ctypes.data), qlen,
        ffi.cast("const int32_t *", ta.ctypes.data), tlen,
        ffi.cast("const uint8_t *", eqm.ctypes.data), int(sigma),
        int(best),
        ffi.cast("int8_t *", moves.ctypes.data))
    if n < 0:
        return None
    return moves[:n].tolist()
