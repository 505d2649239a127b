"""Differential tests: the batch kernel (native scan and the exact
per-pair fallback) vs the single-pair kernel/oracle."""

import re

import numpy as np
import pytest

from conftest import native_lane, native_nw_paths
from edlib_spark.batch import batch_edit_distance
from edlib_spark.kernel import align
from edlib_spark.oracle import simple_edit_distance

MODES = ("NW", "SHW", "HW")


def _random_strings(rng, n, alpha, lmin, lmax):
    letters = "abcdefghijklmnopqrstuvwxyz"[:alpha]
    out = []
    for _ in range(n):
        ln = int(rng.integers(lmin, lmax))
        out.append("".join(letters[i] for i in rng.integers(0, alpha, ln)))
    return out


@pytest.mark.parametrize("mode", MODES)
def test_batch_matches_oracle_unbounded(mode):
    rng = np.random.default_rng(42)
    qs = _random_strings(rng, 60, 8, 1, 180)
    ts = _random_strings(rng, 60, 8, 1, 700)
    got = batch_edit_distance(qs, ts, mode=mode, k=-1)
    for i in range(len(qs)):
        exp, _ = simple_edit_distance(qs[i], ts[i], mode)
        assert got[i] == exp, (mode, i, qs[i][:20], ts[i][:20])


@pytest.mark.parametrize("mode", MODES)
def test_batch_matches_kernel_with_k(mode):
    rng = np.random.default_rng(11)
    qs = _random_strings(rng, 50, 6, 1, 160)
    ts = _random_strings(rng, 50, 6, 1, 400)
    ks = rng.integers(0, 120, len(qs))
    got = batch_edit_distance(qs, ts, mode=mode, k=ks)
    for i in range(len(qs)):
        exp = align(qs[i], ts[i], mode=mode, k=int(ks[i]))["editDistance"]
        assert got[i] == exp, (mode, i, int(ks[i]))


@pytest.mark.parametrize("mode", MODES)
def test_batch_k_sweep(mode):
    """-1 iff d > k, per pair (contract of test/runTests.cpp:167-193)."""
    rng = np.random.default_rng(3)
    qs = _random_strings(rng, 20, 5, 5, 90)
    ts = _random_strings(rng, 20, 5, 5, 250)
    d0 = batch_edit_distance(qs, ts, mode=mode, k=-1)
    for delta in (-1, 0, 1):
        ks = d0 + delta
        got = batch_edit_distance(qs, ts, mode=mode, k=ks)
        for i in range(len(qs)):
            if delta < 0:
                assert got[i] == -1
            else:
                assert got[i] == d0[i]


def test_batch_empty_and_none():
    qs = ["", "abc", None, "abc"]
    ts = ["abc", "", "xy", None]
    assert batch_edit_distance(qs, ts, mode="NW", k=-1).tolist() == \
        [3, 3, 2, 3]
    # empty query => distance qlen == 0 in HW/SHW (edlib.cpp:172-176)
    assert batch_edit_distance(qs, ts, mode="HW", k=-1).tolist() == \
        [0, 3, 0, 3]
    assert batch_edit_distance(qs, ts, mode="SHW", k=-1).tolist() == \
        [0, 3, 0, 3]


def test_batch_multiblock_queries():
    """Queries spanning several 64-row blocks (incl. exact boundaries)."""
    rng = np.random.default_rng(99)
    qs, ts = [], []
    for qlen in (63, 64, 65, 128, 200, 300):
        q = _random_strings(rng, 1, 4, qlen, qlen + 1)[0]
        t = _random_strings(rng, 1, 4, 50, 900)[0]
        qs.append(q)
        ts.append(t)
    for mode in MODES:
        got = batch_edit_distance(qs, ts, mode=mode, k=-1)
        for i in range(len(qs)):
            exp, _ = simple_edit_distance(qs[i], ts[i], mode)
            assert got[i] == exp, (mode, i, len(qs[i]))


def test_batch_identical_and_near():
    base = "the quick brown fox jumps over the lazy dog " * 8
    qs = [base, base, base[:-5]]
    ts = [base, base.replace("quick", "quack"), base]
    got = batch_edit_distance(qs, ts, mode="NW", k=-1)
    assert got[0] == 0
    assert got[1] == 8  # one substitution per repeat of the phrase
    assert got[2] == 5


def test_batch_unicode():
    qs = ["ты милая", "héllo wörld"]
    ts = ["ты гений", "hello world"]
    got = batch_edit_distance(qs, ts, mode="NW", k=-1)
    assert got[0] == 5
    assert got[1] == 2


def test_batch_mixed_block_counts_one_call():
    """Pairs with different block counts share one native call."""
    rng = np.random.default_rng(17)
    qs = _random_strings(rng, 30, 6, 1, 300)
    ts = _random_strings(rng, 30, 6, 1, 300)
    got = batch_edit_distance(qs, ts, mode="NW", k=-1)
    for i in range(len(qs)):
        exp, _ = simple_edit_distance(qs[i], ts[i], "NW")
        assert got[i] == exp


def test_batch_empty_ignores_k():
    """The reference's empty-sequence short-circuit returns the distance
    WITHOUT consulting k (edlib.cpp:165-184 precedes all k logic); the
    batch path must match kernel.align here."""
    qs = ["", "abcdef", "", None]
    ts = ["abcdef", "", "", "xyzxyz"]
    for mode, exp in (("NW", [6, 6, 0, 6]),
                      ("SHW", [0, 6, 0, 0]),
                      ("HW", [0, 6, 0, 0])):
        for native in (True, False):
            with native_lane(native):
                got = batch_edit_distance(qs, ts, mode=mode, k=2)
            assert got.tolist() == exp, (mode, native)
            for q, t, e in zip(qs, ts, exp):
                assert align(q or "", t or "", mode=mode,
                             k=2)["editDistance"] == e


def test_batch_equalities_match_kernel():
    """Batched additional-equality scoring (both lanes) vs the exact
    kernel, covering case-folding and non-transitive wildcards."""
    rng = np.random.default_rng(7)
    eqs_case = [(chr(c), chr(c).upper())
                for c in range(ord("a"), ord("z") + 1)]
    eqs_nuc = [("n", "a"), ("n", "c"), ("n", "g"), ("n", "t")]
    for alpha, eqs in ((6, eqs_case), (4, eqs_nuc)):
        qs = _random_strings(rng, 40, alpha, 0, 150)
        ts = _random_strings(rng, 40, alpha, 0, 250)
        if eqs is eqs_case:
            qs = [q.upper() if i % 2 else q for i, q in enumerate(qs)]
        else:
            qs = [q.replace("a", "n") if i % 2 else q
                  for i, q in enumerate(qs)]
        for mode in MODES:
            want = [align(q, t, mode=mode,
                          additionalEqualities=eqs)["editDistance"]
                    for q, t in zip(qs, ts)]
            for native in (True, False):
                with native_lane(native):
                    got = batch_edit_distance(qs, ts, mode=mode, k=-1,
                                              equalities=eqs)
                assert got.tolist() == want, (mode, native)


@pytest.mark.parametrize("mode", MODES)
def test_batch_mixed_k_nonbmp_chunk_grouping(mode):
    """Mixed per-pair k (3 to 5000) on non-BMP text, one call per lane:
    every pair matches the exact kernel whatever its neighbours' k."""
    rng = np.random.default_rng(321)
    alpha = "acg\U0001F600"  # astral symbol
    qs, ts, ks = [], [], []
    for i in range(120):
        qlen = int(rng.integers(0, 300))
        q = "".join(alpha[j] for j in rng.integers(0, 4, qlen))
        if i % 2:  # near-identical pair
            t = list(q)
            for p in rng.integers(0, max(qlen, 1), 5):
                if qlen:
                    t[p] = alpha[int(rng.integers(0, 4))]
            t = "".join(t)
        else:
            t = "".join(alpha[j] for j in rng.integers(
                0, 4, rng.integers(0, 400)))
        k = int(rng.choice([3, 10, 40, 200, 5000]))
        qs.append(q)
        ts.append(t)
        ks.append(k)
    want = [align(q, t, mode=mode, k=k)["editDistance"]
            for q, t, k in zip(qs, ts, ks)]
    for native in (True, False):
        with native_lane(native):
            got = batch_edit_distance(qs, ts, mode, np.array(ks))
        assert got.tolist() == want, native


def test_equalities_int_codepoints_and_validation():
    """Integer-codepoint equality pairs work end-to-end; multi-char
    string entries and ints outside 0..0x10FFFF fail with a ValueError
    naming the pair, on every lane alike (2**32 + 97 must not wrap to
    'a', -1 must not be dropped)."""
    want = batch_edit_distance(["abc"], ["ABC"], mode="NW", k=-1,
                               equalities=[("a", "A"), ("b", "B"),
                                           ("c", "C")])
    got = batch_edit_distance(["abc"], ["ABC"], mode="NW", k=-1,
                              equalities=[(97, 65), (98, 66), (99, 67)])
    assert got.tolist() == want.tolist() == [0]
    with pytest.raises(ValueError, match="single characters"):
        batch_edit_distance(["a"], ["b"], equalities=[("ab", "c")])
    for bad in ((2**32 + 97, 98), (-1, 97), (0x110000, 97),
                (97, 0x110000)):
        with pytest.raises(ValueError, match=re.escape(repr(bad))):
            batch_edit_distance(["ab"], ["bb"], equalities=[bad])
    assert batch_edit_distance(["a\U0010FFFF"], ["ab"],
                               equalities=[(0x10FFFF, 98)]).tolist() == [0]


def test_edit_distance_column_int_equalities(spark):
    """functions.alignment.edit_distance must pass int codepoints
    through unchanged (str(97) -> '97' used to crash the encoder)."""
    from pyspark.sql import functions as F

    from edlib_spark.functions.alignment import edit_distance

    df = spark.createDataFrame([("abc", "ABC")], "q string, t string")
    out = df.select(
        edit_distance(F.col("q"), F.col("t"), "NW", -1,
                      additional_equalities=[(97, 65), (98, 66),
                                             (99, 67)]).alias("d"))
    assert out.collect()[0].d == 0


@pytest.mark.parametrize("mode", MODES)
def test_batch_tight_k_long_near_identical(mode):
    """Regression: k << 64 on multi-block near-identical pairs.  The
    native scan's original band extension ('extend when bottom <= k')
    could never keep an entered block alive when k < 64, returning -1
    for true distances <= k — the exact regime of the adaptive-k top-N
    second pass.  Now mirrors the reference's diagonal-feasibility
    band conditions (edlib.cpp:600-641, 797-827)."""
    rng = np.random.default_rng(13)
    letters = "abcdefgh"
    for L in (65, 100, 400, 1100, 2600):
        base = "".join(letters[i] for i in rng.integers(0, 8, L))
        tl = list(base)
        for e in range(3):
            tl[(e * 131 + 17) % (L - 2)] = "z"
        variants = ["".join(tl),
                    base[:L // 3] + "zzz" + base[L // 3:],
                    base[:L // 3] + base[L // 3 + 3:],
                    base]
        for t in variants:
            for k in (0, 1, 2, 3, 5, 16, 63, 64):
                want = align(base, t, mode=mode, k=k)["editDistance"]
                for native in (True, False):
                    with native_lane(native):
                        got = batch_edit_distance([base], [t], mode, k)
                    assert got[0] == want, (L, len(t), k, native,
                                            got[0], want)


def _python_nw_path(q, t, eqs):
    """The pure-Python NW path at the exact distance: (d, moves) from
    _scan_nw + _traceback, or _hirschberg past the direct-traceback
    memory bound."""
    from edlib_spark.kernel import (
        WORD, _ceil_div, _direct_traceback, _hirschberg, _scan_nw,
        _traceback, build_peq, encode_pair,
    )

    q_codes, t_codes, sigma, eq = encode_pair(q, t, eqs, None)
    qlen, tlen = len(q_codes), len(t_codes)
    nblocks = _ceil_div(qlen, WORD)
    w = nblocks * WORD - qlen
    peq = build_peq(sigma, q_codes, eq)
    d, _, _ = _scan_nw(peq, w, nblocks, qlen, t_codes, max(qlen, tlen))
    if not _direct_traceback(qlen, tlen):
        return d, _hirschberg(q_codes, t_codes, eq, sigma, d)
    _, _, data = _scan_nw(peq, w, nblocks, qlen, t_codes, d,
                          find_alignment=True)
    return d, _traceback(qlen, tlen, d, data)


def test_native_fill_matches_python_scan():
    """The NW distance scan and the path built on its saved band, through
    the one batch entry: at every k, ``native_batch``'s distance equals
    the pure-Python _scan_nw's, and the CIGAR it builds at k = d equals
    the Python scan + _traceback walk (or _hirschberg) in both formats;
    None past k.  Covers multi-block queries, exact 64-multiples
    (w == 0), additional equalities, band-killing k, a >2048-column
    case so the strong reduce fires mid-scan, and two Hirschberg-sized
    pairs whose split scans stop at target_stop (the second's halves
    pass 2048 columns)."""
    from edlib_spark import _native
    from edlib_spark.kernel import (
        WORD, _ceil_div, _direct_traceback, _scan_nw, build_peq,
        encode_pair, path_to_cigar,
    )

    if _native.lib is None:
        pytest.skip("native library unavailable")

    rng = np.random.default_rng(99)
    letters = "abcd"

    def rand(n):
        return "".join(letters[i] for i in rng.integers(0, 4, n))

    def near(q, edits):
        t = list(q)
        for p in rng.integers(0, len(t), edits):
            t[p] = letters[int(rng.integers(0, 4))]
        return "".join(t)

    cases = []
    for _ in range(40):
        cases.append((rand(int(rng.integers(1, 200))),
                      rand(int(rng.integers(1, 260))), None))
    base = rand(2000)
    cases += [
        (rand(64), rand(100), None),          # w == 0
        (rand(128), rand(128), None),         # w == 0, 2 blocks
        ("a" * 70, "a" * 70, None),           # zero distance
        (rand(90), rand(2500), None),         # strong reduce at c=2048
        (rand(40), rand(60), [("a", "b")]),   # equalities
        (base, near(base[:1700], 60), None),  # Hirschberg
        (base[:600], near(base, 40) * 3, None),  # Hirschberg, long halves
    ]
    assert [_direct_traceback(len(q), len(t)) for q, t, _ in cases[-2:]] \
        == [False, False]
    for q, t, eqs in cases:
        q_codes, t_codes, sigma, eq = encode_pair(q, t, eqs, None)
        qlen, tlen = len(q_codes), len(t_codes)
        nblocks = _ceil_div(qlen, WORD)
        w = nblocks * WORD - qlen
        d_true, _ = simple_edit_distance(q, t, "NW")
        peq = build_peq(sigma, q_codes, eq)
        _, moves = _python_nw_path(q, t, eqs)
        for k in (d_true, d_true + 7, max(qlen, tlen),
                  max(0, d_true - 1)):
            best_py, _, _ = _scan_nw(peq, w, nblocks, qlen, t_codes, k)
            for extended in (True, False):
                got = native_nw_paths([q], [t], [k], eqs, extended)
                assert got == ([best_py], [
                    path_to_cigar(moves, extended) if best_py >= 0
                    else None]), (q, t, k, extended)


def test_native_path_matches_python_walk():
    """The native path (scan + traceback walk in C, one batch call) must
    equal the pure-Python _scan_nw(find_alignment) + _traceback
    move-for-move in both CIGAR formats — the walk's emit ORDER and
    tie-breaks are what the compiled reference pins byte-exactly."""
    from edlib_spark import _native
    from edlib_spark.kernel import path_to_cigar

    if _native.lib is None:
        pytest.skip("native library unavailable")

    rng = np.random.default_rng(123)
    letters = "abc"

    def rand(n):
        return "".join(letters[i] for i in rng.integers(0, 3, n))

    cases = [(rand(int(rng.integers(1, 180))),
              rand(int(rng.integers(1, 240)))) for _ in range(60)]
    cases += [(rand(64), rand(64)), (rand(128), rand(50)),
              ("a" * 65, "a" * 65), (rand(1), rand(200)),
              (rand(200), rand(1)), (rand(90), rand(2500))]
    qs, ts = [q for q, _ in cases], [t for _, t in cases]
    eq_case = (rand(150), rand(170))
    for qs, ts, eqs in ((qs, ts, None),
                        ([eq_case[0]], [eq_case[1]], [("a", "b")])):
        want = [_python_nw_path(q, t, eqs) for q, t in zip(qs, ts)]
        # the DP oracle agrees on the distance the paths are at (under
        # the one pair a ~ b, with every b spelled a)
        assert [d for d, _ in want] == [simple_edit_distance(
            *(s.replace("b", "a") if eqs else s for s in (q, t)), "NW")[0]
            for q, t in zip(qs, ts)]
        for extended in (True, False):
            assert native_nw_paths(qs, ts, [-1] * len(qs), eqs,
                                   extended) == (
                [d for d, _ in want],
                [path_to_cigar(moves, extended) for _, moves in want]), eqs


# ---- astral-plane text on the native lane, lone surrogates, the C
# dynamic-k doubling, the per-pair fallback and the native build's
# degraded mode ----

ASTRAL = "acg\U0001F600\U0001F680\U0010FFFF"


@pytest.fixture()
def native_only(monkeypatch):
    """Native library loaded, per-pair fallback forbidden: any pair that
    reaches batch._exact_distances fails the test."""
    from edlib_spark import _native, batch

    if _native.lib is None:
        pytest.skip(f"native library unavailable: {_native.build_error}")

    def _forbidden(*args, **kwargs):
        raise AssertionError("per-pair fallback reached with native loaded")

    monkeypatch.setattr(batch, "_exact_distances", _forbidden)


def _astral_pairs(rng, n, alpha=ASTRAL):
    qs, ts = [], []
    for i in range(n):
        q = "".join(alpha[j] for j in rng.integers(
            0, len(alpha), rng.integers(1, 200)))
        if i % 2:  # near-identical pair
            t = list(q)
            for p in rng.integers(0, len(q), 4):
                t[p] = alpha[int(rng.integers(0, len(alpha)))]
            t = "".join(t)
        else:
            t = "".join(alpha[j] for j in rng.integers(
                0, len(alpha), rng.integers(1, 260)))
        qs.append(q)
        ts.append(t)
    return qs, ts


@pytest.mark.parametrize("mode", MODES)
def test_native_scores_astral_pairs(native_only, mode):
    """Astral-plane pairs (up to U+10FFFF) are scored by the C scan, not
    handed to the per-pair fallback, and equal kernel.align for unbounded,
    tight and mixed per-pair k."""
    rng = np.random.default_rng(2024)
    qs, ts = _astral_pairs(rng, 60)
    mixed = rng.choice([0, 3, 10, 40, 200, -1], len(qs))
    for k in (-1, 4, mixed):
        got = batch_edit_distance(qs, ts, mode, k)
        ks = np.broadcast_to(k, len(qs))
        want = [align(q, t, mode=mode, k=int(kk))["editDistance"]
                for q, t, kk in zip(qs, ts, ks)]
        assert got.tolist() == want, (mode, k)


@pytest.mark.parametrize("mode", MODES)
def test_native_astral_equalities_str_and_int(native_only, mode):
    """Equality pairs naming astral symbols, given as str or as int
    codepoints, widen the C scan's match profile exactly like the
    kernel's equality matrix; a pair naming a codepoint above the
    batch's largest one is a no-op."""
    rng = np.random.default_rng(77)
    qs, ts = _astral_pairs(rng, 40)
    as_str = [("a", "\U0001F600"), ("\U0010FFFF", "g")]
    as_int = [(ord(a), ord(b)) for a, b in as_str]
    want = [align(q, t, mode=mode, additionalEqualities=as_str)[
        "editDistance"] for q, t in zip(qs, ts)]
    for eqs in (as_str, as_int):
        got = batch_edit_distance(qs, ts, mode, -1, equalities=eqs)
        assert got.tolist() == want, (mode, eqs)
    qs = [q.replace("\U0010FFFF", "c") for q in qs]
    ts = [t.replace("\U0010FFFF", "c") for t in ts]
    got = batch_edit_distance(qs, ts, mode, -1,
                              equalities=[("a", "\U0001F600"),
                                          (0x10FFFF, "g")])
    want = [align(q, t, mode=mode,
                  additionalEqualities=[("a", "\U0001F600")])[
        "editDistance"] for q, t in zip(qs, ts)]
    assert got.tolist() == want, mode


@pytest.mark.parametrize("mode", MODES)
def test_native_mixed_ascii_and_astral_batch(native_only, mode):
    """One batch holding ASCII-only pairs next to astral pairs: the
    codepoint table sized for the astral symbols must not change the
    ASCII pairs' answers."""
    rng = np.random.default_rng(5)
    aq, at = _astral_pairs(rng, 30, alpha="acgt")
    xq, xt = _astral_pairs(rng, 30)
    qs = [v for pair in zip(aq, xq) for v in pair]
    ts = [v for pair in zip(at, xt) for v in pair]
    for k in (-1, 8):
        got = batch_edit_distance(qs, ts, mode, k)
        want = [align(q, t, mode=mode, k=k)["editDistance"]
                for q, t in zip(qs, ts)]
        assert got.tolist() == want, (mode, k)
    assert batch_edit_distance(["\U0010FFFF"], ["\U0010FFFF"],
                               mode).tolist() == [0]


def test_native_empty_batch(native_only):
    """Zero pairs: the dispatcher returns an empty result, and the C
    entry point itself handles n = 0 (table of one entry)."""
    from edlib_spark import _native
    from edlib_spark.batch import encode_flat

    for mode in MODES:
        assert batch_edit_distance([], [], mode).tolist() == []
    buf, start, lens = encode_flat([])
    got = _native.native_batch(buf, start, lens, buf, start, lens,
                               np.empty(0, np.int64), "NW")
    assert got is not None and got[0].tolist() == []


@pytest.mark.parametrize("mode", MODES)
def test_native_unbounded_doubling_past_64_and_128(native_only, mode):
    """Unbounded k runs edlib's k = 64, 128, ... doubling inside the C
    call (edlib.cpp:196-217), capped at the largest possible distance.
    True distances above 64, 128 and 256 need two, three and four
    rounds, and the all-mismatch pairs only finish at the cap; a loop
    that stops early returns -1 and fails here."""
    rng = np.random.default_rng(64128)
    letters = "acgt"
    qs, ts = [], []
    for n_mut in (10, 90, 180, 300):
        q = "".join(letters[i] for i in rng.integers(0, 4, 700))
        subst = list(q)
        for p in rng.choice(len(q), n_mut, replace=False):
            subst[p] = "x"
        cut = int(rng.integers(0, 700 - n_mut))
        qs += [q, q, q]
        ts += ["".join(subst), q[:cut] + q[cut + n_mut:],
               "zz" + "".join(subst) + "zz"]
    qs += ["a" * 100, "a" * 300, "a\U0001F600" * 90]
    ts += ["b" * 300, "b" * 100, "b" * 200]
    want = [align(q, t, mode=mode)["editDistance"]
            for q, t in zip(qs, ts)]
    assert any(64 < d <= 128 for d in want), want
    assert any(128 < d <= 256 for d in want), want
    assert max(want) > 256, want
    assert batch_edit_distance(qs, ts, mode).tolist() == want


@pytest.mark.parametrize("mode", MODES)
def test_unscored_native_rows_rescored_exactly(monkeypatch, mode):
    """Rows the native call leaves unscored take the exact per-pair
    kernel, equalities included: per-pair UNSUPPORTED entries (scratch
    growth failed) and a whole-batch None (the batch scratch could not
    be allocated).  Only those rows reach the fallback."""
    from edlib_spark import _native, batch

    if _native.lib is None:
        pytest.skip(f"native library unavailable: {_native.build_error}")
    rng = np.random.default_rng(31)
    qs, ts = _astral_pairs(rng, 40)
    ks = rng.choice([-1, 0, 5, 40, 300], len(qs))
    eqs = [("a", "\U0001F600")]
    want = [align(q, t, mode=mode, k=int(k),
                  additionalEqualities=eqs)["editDistance"]
            for q, t, k in zip(qs, ts, ks)]

    real = _native.native_batch
    exact = batch._exact_distances
    native_rows, fallback_rows = [], []

    def unsupported_every_third(*args, **kwargs):
        got = real(*args, **kwargs)
        out = got[0]
        native_rows.append(len(out))
        out[::3] = _native.UNSUPPORTED
        return got

    def spy(queries, *args):
        fallback_rows.append(len(queries))
        return exact(queries, *args)

    monkeypatch.setattr(batch, "_exact_distances", spy)
    monkeypatch.setattr(_native, "native_batch", unsupported_every_third)
    got = batch_edit_distance(qs, ts, mode, ks, equalities=eqs)
    assert got.tolist() == want
    assert fallback_rows == [len(range(0, native_rows[0], 3))]

    fallback_rows.clear()
    monkeypatch.setattr(_native, "native_batch",
                        lambda *args, **kwargs: None)
    got = batch_edit_distance(qs, ts, mode, ks, equalities=eqs)
    assert got.tolist() == want
    assert fallback_rows == native_rows


@pytest.mark.parametrize("native", (True, False))
@pytest.mark.parametrize("mode", MODES)
def test_batch_lone_surrogates_match_kernel(mode, native):
    """Lone surrogates (legal in a Python str, e.g. from a lossy decode)
    are one codepoint each, on both lanes, like kernel.align sees them;
    they used to raise UnicodeEncodeError in the batch encoder."""
    qs = ["a\ud800b", "\udfff", "x\ud83d\ude00y", "ab", "\ud800" * 70]
    ts = ["ab", "\udfff\udfff", "xy", "a\udc00b", "\ud801" * 3]
    for k in (-1, 1):
        with native_lane(native):
            got = batch_edit_distance(qs, ts, mode, k)
        want = [align(q, t, mode=mode, k=k)["editDistance"]
                for q, t in zip(qs, ts)]
        assert got.tolist() == want, (mode, k)


def test_native_kernel_built():
    """The C kernel must build wherever cffi and a C compiler exist, so
    a broken build fails the suite instead of silently running the
    ~100x slower per-pair fallback."""
    import shutil

    from edlib_spark import _native

    pytest.importorskip("cffi", reason="cffi not installed")
    if not any(shutil.which(cc) for cc in ("cc", "gcc", "clang")):
        pytest.skip("no C compiler on PATH")
    assert _native.lib is not None, _native.build_error
    assert _native.build_error is None
    # the on-disk cache key covers the cdef: every declared function
    # must exist in the loaded module, not a stale build's subset
    declared = re.findall(r"(\w+)\(", _native._CDEF)
    assert declared
    for name in declared:
        assert hasattr(_native.lib, name), name


def test_native_build_failure_warns(monkeypatch):
    """A failed native build keeps the per-pair fallback but says so: one
    RuntimeWarning naming the cause, which also stays on
    _native.build_error.  lib/ffi are restored afterwards, so later
    tests keep the native lane."""
    from edlib_spark import _native

    monkeypatch.setattr(_native, "lib", _native.lib)
    monkeypatch.setattr(_native, "ffi", _native.ffi)
    monkeypatch.setattr(_native, "build_error", _native.build_error)
    monkeypatch.setattr(_native, "_CDEF", "int broken(")
    with pytest.warns(RuntimeWarning, match="native kernel unavailable") \
            as caught:
        _native._build()
    runtime = [w for w in caught if w.category is RuntimeWarning]
    assert len(runtime) == 1
    assert _native.lib is None and _native.ffi is None
    assert _native.build_error
    assert _native.build_error in str(runtime[0].message)
    got = batch_edit_distance(["kitten", "a\U0001F600b"],
                              ["sitting", "ab"], "NW")
    assert got.tolist() == [3, 1]
