"""align_expr's batch lane (``alignment._align_batch``) without Spark:
row-for-row equal to ``kernel.align``, with the NW traceback and the
alphabet sizes from one native call per batch."""

import numpy as np
import pytest

from conftest import native_nw_paths
from edlib_spark import _native, kernel
from edlib_spark.batch import _symbol_pairs
from edlib_spark.functions.alignment import _align_batch

FORMATS = ("extended", "standard")

# a pair past the direct-traceback memory limit: its path takes
# Hirschberg
_BIG_Q = "acgt" * 525
_BIG_T = ("acgt" * 400)[:1590] + "ttgg" * 5


def _suite(rng, n=60):
    """Variant pairs over a small alphabet with astral symbols and lone
    surrogates mixed in, plus empties and one near-miss.  Three long
    pairs (450-900 chars) lead the batch: their distances pass 64 and
    128, so unbounded rows run the native k-doubling and then trace at
    k = d, and the short pairs after them run on batch scratch the
    long ones left dirty."""
    alpha = list("abcde") + ["\U0001F600", "\U0010FFFF", "\ud800", "\udfff"]
    qs, ts = ["", "", "abc", "a😀b"], ["", "xyz", "", "ab"]
    for _ in range(n):
        _mutate(rng, alpha, [alpha[i] for i in rng.integers(
            0, len(alpha), rng.integers(1, 150))],
            int(rng.integers(0, 25)), qs, ts)
    long_qs, long_ts = [], []
    for length, edits in ((450, 90), (700, 170), (900, 260)):
        _mutate(rng, alpha, [alpha[i] for i in rng.integers(
            0, len(alpha), length)], edits, long_qs, long_ts)
    return long_qs + qs, long_ts + ts


def _mutate(rng, alpha, q, edits, qs, ts):
    """Append query ``q`` and a copy with ``edits`` random inserts,
    deletes and substitutions to ``qs`` / ``ts``."""
    t = list(q)
    for _ in range(edits):
        pos = int(rng.integers(0, len(t) + 1))
        op = rng.random()
        if op < 0.3:
            t.insert(pos, alpha[int(rng.integers(0, len(alpha)))])
        elif op < 0.6 and len(t) > 1:
            t.pop(min(pos, len(t) - 1))
        else:
            t[min(pos, len(t) - 1)] = alpha[int(rng.integers(0, len(alpha)))]
    qs.append("".join(q))
    ts.append("".join(t))


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


@pytest.mark.parametrize("mode", kernel.MODES)
def test_suite_needs_k_doubling(suite, mode):
    """The long pairs leading the suite need a second and a third
    doubling round (distance past 64 and past 128) on every mode."""
    qs, ts = suite
    d = [kernel.align(q, t, mode=mode)["editDistance"]
         for q, t in zip(qs[:3], ts[:3])]
    assert any(64 < x <= 128 for x in d) and any(x > 128 for x in d), d


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
    """A pair past the direct-traceback memory limit gets its
    Hirschberg path from the batch entry: the reference result."""
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
    """With the native library loaded, every task on the NW lane makes
    exactly one native call per batch, the Hirschberg-sized pair
    included, and no non-empty row reaches the per-pair Python kernel,
    encode, traceback or CIGAR builder.  HW / SHW paths make at most
    two native calls (distances, then the CIGARs of the located
    substrings); their rows reach the per-pair kernel for locations
    only, never its traceback or CIGAR builder."""
    qs, ts = suite
    qs, ts = qs + [_BIG_Q], ts + [_BIG_T]
    eqs = [("a", "b")]
    runs = [("NW", task) for task in kernel.TASKS] + [("HW", "path"),
                                                      ("SHW", "path")]
    want = {run: _rows(_align_batch(qs, ts, -1, *run, eqs, None, fmt))
            for run in runs}
    real_align, real_encode = kernel.align, kernel.encode_pair
    real_batch = _native.native_batch
    calls = []

    def align(q, t, *args, **kwargs):
        if len(q) and len(t) and (mode == "NW"
                                  or kwargs.get("task") == "path"):
            raise AssertionError("per-pair kernel on a non-empty row")
        return real_align(q, t, *args, **kwargs)

    def encode(q, t, *args, **kwargs):
        if len(q) and len(t) and mode == "NW":
            raise AssertionError("per-pair encode on a non-empty row")
        return real_encode(q, t, *args, **kwargs)

    def forbidden(*args, **kwargs):
        raise AssertionError("per-pair traceback or CIGAR builder")

    def counted(*args, **kwargs):
        calls.append(1)
        return real_batch(*args, **kwargs)

    monkeypatch.setattr(kernel, "align", align)
    monkeypatch.setattr(kernel, "encode_pair", encode)
    monkeypatch.setattr(kernel, "_obtain_alignment", forbidden)
    monkeypatch.setattr(kernel, "path_to_cigar", forbidden)
    monkeypatch.setattr(_native, "native_batch", counted)
    for mode, task in runs:
        calls.clear()
        got = _rows(_align_batch(qs, ts, -1, mode, task, eqs, None, fmt))
        assert got == want[mode, task], (mode, task)
        assert len(calls) == 1 if mode == "NW" else len(calls) <= 2, \
            (mode, task, len(calls))


def test_one_compiled_entry():
    """``_CDEF`` declares the one batch entry, and kernel.py — the pure
    reference the compiled entry is pinned to — imports nothing from
    ``_native``."""
    import ast
    import re

    assert re.findall(r"(\w+)\s*\(", _native._CDEF) == ["batch_align"]
    if _native.lib is not None:
        assert [n for n in dir(_native.lib) if not n.startswith("_")] \
            == ["batch_align"]
    tree = ast.parse(open(kernel.__file__).read())
    imported = [a.name for node in ast.walk(tree)
                if isinstance(node, (ast.Import, ast.ImportFrom))
                for a in node.names] + [
        node.module or "" for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)]
    assert not [m for m in imported if "_native" in m], imported


# ---- the direct-traceback / Hirschberg boundary: the C path of every
# pair equals pure-Python kernel.align ----

def _native_cigars(qs, ts, eqs, fmt):
    return native_nw_paths(qs, ts, [-1] * len(qs), eqs, fmt == "extended")


def _kernel_cigars(qs, ts, eqs, fmt):
    rs = [kernel.align(q, t, task="path", additionalEqualities=eqs,
                       max_alphabet=None, cigar_format=fmt)
          for q, t in zip(qs, ts)]
    return [r["editDistance"] for r in rs], [r["cigar"] for r in rs]


def _boundary_pairs():
    """Three pairs around kernel._TRACEBACK_MEM_LIMIT (equal lengths
    cross it near 1,830): 1792 x 1846 is the widest direct-traceback
    shape at 28 query blocks; one more query row (1793, a 29th block)
    or one more target column (1847) takes Hirschberg.  Astral symbols
    included; the direct walk and Hirschberg pick different optimal
    paths for the 1793-row pair."""
    rng = np.random.default_rng(1)
    alpha = ["a", "b", "c", "\U0001F600"]
    q = [alpha[i] for i in rng.integers(0, len(alpha), 1793)]
    mq, mt = [], []
    _mutate(rng, alpha, q, 900, mq, mt)
    t = (mt[0] + mq[0])[:1847]
    q = mq[0]
    return [(q[:1792], t[:1846]), (q, t[:1846]), (q[:1792], t)]


@pytest.mark.skipif(_native.lib is None, reason="native kernel unavailable")
@pytest.mark.parametrize("fmt", FORMATS)
def test_native_paths_across_traceback_boundary(fmt):
    """One row and one column either side of the memory bound, with
    and without an equality pair naming an astral symbol: the C path
    (direct below, Hirschberg above) equals kernel.align's."""
    pairs = _boundary_pairs()
    assert [kernel._direct_traceback(len(q), len(t)) for q, t in pairs] \
        == [True, False, False]
    qs, ts = [q for q, _ in pairs], [t for _, t in pairs]
    for eqs in (None, [("a", "\U0001F600")]):
        got = _native_cigars(qs, ts, eqs, fmt)
        assert None not in got[1]
        assert got == _kernel_cigars(qs, ts, eqs, fmt), eqs


@pytest.mark.skipif(_native.lib is None, reason="native kernel unavailable")
def test_native_boundary_picks_hirschberg():
    """Pins the boundary itself: for the first pair past it the direct
    walk and Hirschberg pick different optimal paths, and the C path is
    Hirschberg's."""
    q, t = _boundary_pairs()[1]
    q_codes, t_codes, sigma, eq = kernel.encode_pair(q, t, None, None)
    qlen, tlen = len(q_codes), len(t_codes)
    d = kernel.align(q, t)["editDistance"]
    nblocks = kernel._ceil_div(qlen, kernel.WORD)
    peq = kernel.build_peq(sigma, q_codes, eq)
    _, _, data = kernel._scan_nw(peq, nblocks * kernel.WORD - qlen,
                                 nblocks, qlen, t_codes, d,
                                 find_alignment=True)
    direct = kernel._traceback(qlen, tlen, d, data)
    hirschberg = kernel._hirschberg(q_codes, t_codes, eq, sigma, d)
    assert direct != hirschberg
    assert _native_cigars([q], [t], None, "extended")[1] == [
        kernel.path_to_cigar(hirschberg)]


@pytest.mark.skipif(_native.lib is None, reason="native kernel unavailable")
def test_native_path_single_target_char_past_bound():
    """tlen == 1 with a query past the memory bound takes the direct
    traceback in C as in kernel._direct_traceback; an equality pair
    makes every 'b' a candidate match, so the tie-break is pinned."""
    qlen = 64 * 52_429   # (2*8+4) * 52,429 + 8 >= 1 MiB
    assert not kernel._direct_traceback(qlen, 2)
    rng = np.random.default_rng(3)
    q = "".join(np.array(list("abc"))[rng.integers(0, 3, qlen)])
    q = q[:qlen // 2] + "\U0001F600" + q[qlen // 2 + 1:]
    eqs = [("b", "\U0001F600")]
    assert _native_cigars([q], ["\U0001F600"], eqs, "extended") == \
        _kernel_cigars([q], ["\U0001F600"], eqs, "extended")


@pytest.mark.skipif(_native.lib is None, reason="native kernel unavailable")
@pytest.mark.parametrize("fmt", FORMATS)
def test_native_hirschberg_empty_query_halves(monkeypatch, fmt):
    """A 60-row query against a target past the bound, matched at the
    target's end (the split's upper half has an empty query) or at its
    start (the lower half has): C equals kernel.align, and the Python
    reference really recurses into an empty-query half."""
    fill = "a" * 37_400
    pairs = [("\U0001F600" * 60, fill + "b" * 60, [("\U0001F600", "b")]),
             ("\U0001F600" * 60, "\U0001F600" * 60 + fill, None)]
    real = kernel._obtain_alignment
    for q, t, eqs in pairs:
        assert not kernel._direct_traceback(len(q), len(t))
        halves = []

        def record(q_codes, t_codes, *args):
            halves.append(len(q_codes))
            return real(q_codes, t_codes, *args)

        monkeypatch.setattr(kernel, "_obtain_alignment", record)
        want = _kernel_cigars([q], [t], eqs, fmt)
        monkeypatch.setattr(kernel, "_obtain_alignment", real)
        assert 0 in halves, (t[:3], halves)
        assert _native_cigars([q], [t], eqs, fmt) == want


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
    """The C entry point on its own: distances and alphabet sizes for
    every row, CIGARs only where asked and built (an empty side never
    gets one), and an empty batch."""
    from edlib_spark.batch import encode_flat

    if _native.lib is None:
        pytest.skip("native kernel unavailable")
    qs, ts = ["telephone", "caba", "", "a\U0001F600"], \
        ["elephant", "bbcbaa", "xy", "\U0001F600\U0001F600"]
    args = (*encode_flat(qs), *encode_flat(ts), np.full(4, -1, np.int64),
            "NW")
    dist, sigma, cigars = _native.native_batch(
        *args, path=np.array([True, True, True, False]), extended=True)
    assert dist.tolist() == [3, 4, 2, 1]
    assert sigma.tolist() == [8, 3, 2, 2]
    assert cigars == ["1I5=1X1=1X", "2D1=1I2=1D", None, None]
    dist, sigma, cigars = _native.native_batch(*args)
    assert sigma.tolist() == [8, 3, 2, 2] and cigars == [None] * 4
    empty = encode_flat([])
    dist, sigma, cigars = _native.native_batch(
        *empty, *empty, np.empty(0, np.int64), "NW",
        path=np.array([], dtype=bool))
    assert len(sigma) == 0 and cigars == []
