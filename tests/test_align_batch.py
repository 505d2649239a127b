"""align_expr's batch lane (``alignment._align_batch``) without Spark:
row-for-row equal to ``kernel.align``, with the NW traceback and the
alphabet sizes from one native call per batch."""

import numpy as np
import pytest

from edlib_spark import _native, kernel
from edlib_spark.functions.alignment import _align_batch, _symbol_pairs

FORMATS = ("extended", "standard")

# a pair past the direct-traceback memory limit: its path takes
# Hirschberg
_BIG_Q = "acgt" * 525
_BIG_T = ("acgt" * 400)[:1590] + "ttgg" * 5


def _suite(rng, n=60):
    """Variant pairs over a small alphabet with astral symbols and lone
    surrogates mixed in, plus empties and one near-miss."""
    alpha = list("abcde") + ["\U0001F600", "\U0010FFFF", "\ud800", "\udfff"]
    qs, ts = ["", "", "abc", "a😀b"], ["", "xyz", "", "ab"]
    for _ in range(n):
        q = [alpha[i] for i in rng.integers(0, len(alpha),
                                            rng.integers(1, 150))]
        t = list(q)
        for _ in range(int(rng.integers(0, 25))):
            pos = int(rng.integers(0, len(t) + 1))
            op = rng.random()
            if op < 0.3:
                t.insert(pos, alpha[int(rng.integers(0, len(alpha)))])
            elif op < 0.6 and len(t) > 1:
                t.pop(min(pos, len(t) - 1))
            else:
                t[min(pos, len(t) - 1)] = alpha[
                    int(rng.integers(0, len(alpha)))]
        qs.append("".join(q))
        ts.append("".join(t))
    return qs, ts


def _rows(df):
    return [(int(r.editDistance), int(r.alphabetLength),
             [tuple(loc) for loc in r.locations], r.cigar)
            for r in df.itertuples(index=False)]


def _want(qs, ts, ks, mode, task, eqs, fmt):
    out = []
    for q, t, k in zip(qs, ts, ks):
        r = kernel.align(q, t, mode=mode, task=task, k=int(k),
                         additionalEqualities=eqs, max_alphabet=None,
                         cigar_format=fmt)
        out.append((r["editDistance"], r["alphabetLength"],
                    list(r["locations"]), r["cigar"]))
    return out


@pytest.fixture(scope="module")
def suite():
    return _suite(np.random.default_rng(11))


@pytest.mark.parametrize("fmt", FORMATS)
@pytest.mark.parametrize("task", kernel.TASKS)
@pytest.mark.parametrize("mode", kernel.MODES)
def test_lane_matches_kernel(suite, mode, task, fmt):
    """Every mode and task, unbounded and per-row k (some rows cut off
    by k), without and with equality pairs (str and int forms)."""
    qs, ts = suite
    rng = np.random.default_rng(5)
    per_row = rng.integers(-1, 30, len(qs))
    for ks in (-1, per_row):
        ks_rows = np.broadcast_to(np.asarray(ks), (len(qs),))
        for pairs in (None, [("a", "b"), ("\U0001F600", "c")],
                      [(97, 98), (0x1F600, 99)]):
            eqs = _symbol_pairs(pairs)
            got = _rows(_align_batch(qs, ts, ks, mode, task, eqs, None,
                                     fmt))
            want = _want(qs, ts, ks_rows, mode, task,
                         _symbol_pairs(pairs), fmt)
            assert got == want, (mode, task, fmt, pairs)
    assert any(d < 0 for d, *_ in _rows(_align_batch(
        qs, ts, per_row, mode, task, None, None, fmt)))


@pytest.mark.parametrize("fmt", FORMATS)
def test_lane_hirschberg_pair(fmt):
    """A pair past the direct-traceback memory limit keeps the
    per-pair Hirschberg path and the reference result."""
    assert not kernel._direct_traceback(len(_BIG_Q), len(_BIG_T))
    qs, ts = [_BIG_Q, "kitten"], [_BIG_T, "sitting"]
    got = _rows(_align_batch(qs, ts, -1, "NW", "path", None, None, fmt))
    assert got == _want(qs, ts, [-1, -1], "NW", "path", None, fmt)


def test_lane_max_alphabet_overflow_raises(suite):
    qs, ts = suite
    with pytest.raises(ValueError, match="more than 3 unique values"):
        _align_batch(qs, ts, -1, "NW", "path", None, 3, "extended")
    # at the limit nothing raises
    got = _align_batch(["abc"], ["cab"], -1, "NW", "path", None, 3,
                       "extended")
    assert got.alphabetLength.tolist() == [3]


def test_lane_empty_batch():
    got = _align_batch([], [], -1, "NW", "path", None, None, "extended")
    assert len(got) == 0
    assert list(got.columns) == ["editDistance", "alphabetLength",
                                 "locations", "cigar"]


@pytest.mark.skipif(_native.lib is None, reason="native kernel unavailable")
@pytest.mark.parametrize("fmt", FORMATS)
def test_lane_runs_natively(suite, monkeypatch, fmt):
    """With the native library loaded, no non-empty NW row may reach
    the per-pair Python encode, traceback or CIGAR builder."""
    qs, ts = suite
    eqs = [("a", "b")]
    want = _rows(_align_batch(qs, ts, -1, "NW", "path", eqs, None, fmt))
    real_encode = kernel.encode_pair

    def encode(q, t, *args, **kwargs):
        if len(q) and len(t):
            raise AssertionError("per-pair encode on a non-empty row")
        return real_encode(q, t, *args, **kwargs)

    def forbidden(*args, **kwargs):
        raise AssertionError("per-pair traceback on the NW lane")

    monkeypatch.setattr(kernel, "encode_pair", encode)
    monkeypatch.setattr(kernel, "_obtain_alignment", forbidden)
    monkeypatch.setattr(kernel, "path_to_cigar", forbidden)
    got = _rows(_align_batch(qs, ts, -1, "NW", "path", eqs, None, fmt))
    assert got == want


@pytest.mark.parametrize("mode", kernel.MODES)
def test_lane_without_native_library(suite, monkeypatch, mode):
    """``lib = None`` (no compiler) gives identical rows."""
    qs, ts = suite
    qs, ts = qs + [_BIG_Q], ts + [_BIG_T]
    eqs = [("a", "b")]
    args = (-1, mode, "path", eqs, None, "standard")
    with_lib = _rows(_align_batch(qs, ts, *args))
    monkeypatch.setattr(_native, "lib", None)
    assert _rows(_align_batch(qs, ts, *args)) == with_lib


def test_native_batch_align_direct():
    """The C entry point on its own: alphabet sizes for every row,
    CIGARs only where asked, and an empty batch."""
    from edlib_spark.batch import encode_flat

    if _native.lib is None:
        pytest.skip("native kernel unavailable")
    qs, ts = ["telephone", "caba", "", "a\U0001F600"], \
        ["elephant", "bbcbaa", "xy", "\U0001F600\U0001F600"]
    args = (*encode_flat(qs), *encode_flat(ts))
    sigma, cigars = _native.native_batch_align(
        *args, path_d=np.array([3, 4, 2, -1]), extended=True)
    assert sigma.tolist() == [8, 3, 2, 2]
    assert cigars == ["1I5=1X1=1X", "2D1=1I2=1D", None, None]
    sigma, cigars = _native.native_batch_align(*args)
    assert sigma.tolist() == [8, 3, 2, 2] and cigars == [None] * 4
    empty = encode_flat([])
    sigma, cigars = _native.native_batch_align(
        *empty, *empty, path_d=np.array([], dtype=np.int32))
    assert len(sigma) == 0 and cigars == []
