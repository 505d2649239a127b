"""Differential parity vs the REFERENCE BINARY: compile the reference
library (read-only, from its own tree) with a tiny driver and compare
our kernel's results — distance, full end-location sets, start
locations, CIGAR — on hundreds of random cases across all modes/tasks.

This is stronger than the DP-oracle differentials: it checks the
reference's actual tie-breaking (end-location order, -1 edges, start
preference, traceback move priority), not just scores.

Skips cleanly when no C++ toolchain or reference tree is available.
The driver below is ours; no reference code is copied — its sources
are compiled from /root/reference as an opaque library.
"""

import shutil
import subprocess
from pathlib import Path

import numpy as np
import pytest

from conftest import native_lane
from edlib_spark import kernel

REF = Path("/root/reference/edlib")

pytestmark = pytest.mark.skipif(
    shutil.which("g++") is None or not (REF / "src/edlib.cpp").exists(),
    reason="reference tree or g++ unavailable")

_DRIVER = r"""
#include "edlib.h"
#include <cstdio>
#include <cstring>
#include <string>
#include <iostream>
using namespace std;
int main() {
    string line;
    while (getline(cin, line)) {
        // fields: mode \t task \t k \t eqpairs \t query \t target
        // eqpairs: concatenated 2-char equality pairs, '' for none
        size_t p1 = line.find('\t'), p2 = line.find('\t', p1 + 1),
               p3 = line.find('\t', p2 + 1), p4 = line.find('\t', p3 + 1),
               p5 = line.find('\t', p4 + 1);
        string mode = line.substr(0, p1);
        string task = line.substr(p1 + 1, p2 - p1 - 1);
        int k = stoi(line.substr(p2 + 1, p3 - p2 - 1));
        string eqs = line.substr(p3 + 1, p4 - p3 - 1);
        string q = line.substr(p4 + 1, p5 - p4 - 1);
        string t = line.substr(p5 + 1);
        EdlibAlignMode m = mode == "HW" ? EDLIB_MODE_HW
                         : mode == "SHW" ? EDLIB_MODE_SHW : EDLIB_MODE_NW;
        EdlibAlignTask tk = task == "path" ? EDLIB_TASK_PATH
                          : task == "locations" ? EDLIB_TASK_LOC
                          : EDLIB_TASK_DISTANCE;
        EdlibEqualityPair pairs[16];
        int npairs = (int)eqs.size() / 2;
        for (int i = 0; i < npairs; i++) {
            pairs[i].first = eqs[2 * i];
            pairs[i].second = eqs[2 * i + 1];
        }
        EdlibAlignResult r = edlibAlign(q.c_str(), (int)q.size(),
                                        t.c_str(), (int)t.size(),
                                        edlibNewAlignConfig(
                                            k, m, tk,
                                            npairs ? pairs : NULL,
                                            npairs));
        printf("%d|", r.editDistance);
        for (int i = 0; i < r.numLocations; i++)
            printf("%d%s", r.endLocations ? r.endLocations[i] : -2,
                   i + 1 < r.numLocations ? "," : "");
        printf("|");
        if (r.startLocations)
            for (int i = 0; i < r.numLocations; i++)
                printf("%d%s", r.startLocations[i],
                       i + 1 < r.numLocations ? "," : "");
        printf("|");
        if (r.alignment) {
            char* cig = edlibAlignmentToCigar(r.alignment,
                                              r.alignmentLength,
                                              EDLIB_CIGAR_EXTENDED);
            printf("%s", cig);
            free(cig);
        }
        printf("\n");
        edlibFreeAlignResult(r);
    }
    return 0;
}
"""


@pytest.fixture(scope="module")
def probe(tmp_path_factory):
    d = tmp_path_factory.mktemp("refprobe")
    (d / "driver.cpp").write_text(_DRIVER)
    exe = d / "probe"
    subprocess.run(
        ["g++", "-O2", f"-I{REF / 'include'}", str(REF / "src/edlib.cpp"),
         str(d / "driver.cpp"), "-o", str(exe)],
        check=True, capture_output=True)
    return exe


def _cases(n, seed, minq=0, maxq=120, mint=0, maxt=200):
    rng = np.random.default_rng(seed)
    alpha = "acgt"
    out = []
    for _ in range(n):
        q = "".join(alpha[i] for i in rng.integers(0, 4, rng.integers(
            minq, maxq + 1)))
        t = "".join(alpha[i] for i in rng.integers(0, 4, rng.integers(
            mint, maxt + 1)))
        mode = ["NW", "SHW", "HW"][int(rng.integers(0, 3))]
        task = ["distance", "locations", "path"][int(rng.integers(0, 3))]
        k = int([-1, -1, rng.integers(0, 60)][int(rng.integers(0, 3))])
        eqs = ["", "ac", "agct"][int(rng.integers(0, 3))]
        out.append((mode, task, k, eqs, q, t))
    return out


def _run_reference(probe_exe, cases):
    payload = "".join(f"{m}\t{tk}\t{k}\t{eqs}\t{q}\t{t}\n"
                      for m, tk, k, eqs, q, t in cases)
    res = subprocess.run([str(probe_exe)], input=payload,
                         capture_output=True, text=True, check=True)
    parsed = []
    for line in res.stdout.splitlines():
        dist_s, ends_s, starts_s, cigar = line.split("|")
        ends = [int(x) for x in ends_s.split(",")] if ends_s else []
        starts = [int(x) for x in starts_s.split(",")] if starts_s else []
        parsed.append((int(dist_s), ends, starts, cigar or None))
    return parsed


def test_random_parity_vs_reference_binary(probe):
    cases = _cases(700, seed=1234)
    want = _run_reference(probe, cases)
    for (mode, task, k, eqs, q, t), (wd, wends, wstarts, wcig) in zip(
            cases, want):
        pairs = [(eqs[i], eqs[i + 1]) for i in range(0, len(eqs), 2)]
        got = kernel.align(q, t, mode=mode, task=task, k=k,
                           additionalEqualities=pairs or None)
        ctx = (mode, task, k, eqs, len(q), len(t))
        assert got["editDistance"] == wd, ctx
        if wd == -1:
            continue
        if task in ("locations", "path"):
            assert [e for _, e in got["locations"]] == wends, ctx
            # NULL startLocations (empty-input short-circuit) -> None
            exp_starts = wstarts if wstarts else [None] * len(wends)
            assert [s for s, _ in got["locations"]] == exp_starts, ctx
        if task == "path":
            assert got["cigar"] == wcig, (ctx, got["cigar"], wcig)


def test_tiny_edge_parity_vs_reference_binary(probe):
    """Exhaustive tiny cases: every q,t over {a,b} with len 0..3 — the
    regime where -1 ends, empty-input quirks, and W-padding edges live."""
    alpha = "ab"
    strings = [""]
    for ln in (1, 2, 3):
        strings += ["".join(c) for c in __import__("itertools").product(
            alpha, repeat=ln)]
    cases = [(m, "locations", -1, "", q, t)
             for m in ("NW", "SHW", "HW")
             for q in strings for t in strings]
    want = _run_reference(probe, cases)
    for (mode, task, k, _eqs, q, t), (wd, wends, wstarts, _) in zip(
            cases, want):
        got = kernel.align(q, t, mode=mode, task=task, k=k)
        ctx = (mode, q, t)
        assert got["editDistance"] == wd, ctx
        assert [e for _, e in got["locations"]] == wends, ctx
        exp_starts = wstarts if wstarts else [None] * len(wends)
        assert [s for s, _ in got["locations"]] == exp_starts, ctx


def test_multiblock_parity_vs_reference_binary(probe):
    """Longer queries (up to ~5 blocks of 64) and text-search-shaped
    HW cases (short query, long target): exercises multi-block Peq,
    band growth/shrink across block boundaries, and strong-reduce."""
    cases = _cases(150, seed=777, minq=60, maxq=320, mint=200, maxt=700)
    cases += [("HW", t, k, "", q, tg) for (_, t, k, _, q, tg) in
              _cases(80, seed=778, minq=5, maxq=30, mint=400, maxt=900)]
    want = _run_reference(probe, cases)
    for (mode, task, k, eqs, q, t), (wd, wends, wstarts, wcig) in zip(
            cases, want):
        pairs = [(eqs[i], eqs[i + 1]) for i in range(0, len(eqs), 2)]
        got = kernel.align(q, t, mode=mode, task=task, k=k,
                           additionalEqualities=pairs or None)
        ctx = (mode, task, k, len(q), len(t))
        assert got["editDistance"] == wd, ctx
        if wd == -1:
            continue
        if task in ("locations", "path"):
            assert [e for _, e in got["locations"]] == wends, ctx
            exp_starts = wstarts if wstarts else [None] * len(wends)
            assert [s for s, _ in got["locations"]] == exp_starts, ctx
        if task == "path":
            assert got["cigar"] == wcig, (ctx, got["cigar"], wcig)


def test_batched_equality_parity_vs_reference_binary(probe):
    """The BATCH kernel with additional equalities vs the reference
    binary: one batch call per (mode, equality set) so the
    equality-aware Peq planes run through the batch hot path — both
    the native (cffi) lane and the exact per-pair fallback.  Includes a
    non-transitive set ('a'~'c','a'~'g','a'~'t' without c~g) that a
    recode-based implementation could not express."""
    from edlib_spark.batch import batch_edit_distance
    eq_sets = {"ac": [("a", "c")],
               "agct": [("a", "g"), ("c", "t")],
               "acagat": [("a", "c"), ("a", "g"), ("a", "t")]}
    rng = np.random.default_rng(4242)
    alpha = "acgt"
    for mode in ("NW", "SHW", "HW"):
        for eqs, pairs in eq_sets.items():
            qs, ts, ks, cases = [], [], [], []
            for _ in range(60):
                q = "".join(alpha[i] for i in rng.integers(
                    0, 4, rng.integers(0, 150)))
                t = "".join(alpha[i] for i in rng.integers(
                    0, 4, rng.integers(0, 250)))
                k = int([-1, -1, rng.integers(0, 60)][int(
                    rng.integers(0, 3))])
                qs.append(q)
                ts.append(t)
                ks.append(k)
                cases.append((mode, "distance", k, eqs, q, t))
            want = [w[0] for w in _run_reference(probe, cases)]
            for native in (True, False):
                with native_lane(native):
                    got = batch_edit_distance(
                        qs, ts, mode, np.array(ks), equalities=pairs)
                assert got.tolist() == want, (mode, eqs, native)


def test_native_tight_k_multiblock_parity_vs_reference_binary(probe):
    """The round-2 bug class, pinned against the COMPILED reference:
    tight k (< 64, including k smaller than the true distance) on
    multi-block queries (3-7 blocks of 64), with and without equality
    pairs, routed explicitly through batch_edit_distance's native scan
    AND its per-pair fallback.  Targets are near-identical mutations of the
    query so true distances cluster around the k boundary — the regime
    where the original native band-extension logic returned -1 for true
    distances <= k.  This suite fails if the C scan ever drifts from
    the reference again."""
    from edlib_spark.batch import batch_edit_distance
    rng = np.random.default_rng(20260817)
    alpha = "acgt"
    eq_variants = {"": None, "ac": [("a", "c")]}
    for mode in ("NW", "SHW", "HW"):
        for eqs, pairs in eq_variants.items():
            qs, ts, ks, cases = [], [], [], []
            for i in range(80):
                qlen = int(rng.integers(190, 450))  # 3-7 blocks
                q = "".join(alpha[j] for j in rng.integers(0, 4, qlen))
                # mutate ~1-10% of positions + an occasional indel so
                # true distance is small relative to qlen
                t = list(q)
                n_mut = int(rng.integers(1, max(2, qlen // 10)))
                for pos in rng.integers(0, qlen, n_mut):
                    t[pos] = alpha[int(rng.integers(0, 4))]
                if i % 3 == 0:
                    cut = int(rng.integers(0, qlen))
                    del t[cut:cut + int(rng.integers(1, 5))]
                t = "".join(t)
                if mode == "HW":  # infix: embed in flanking text
                    flank = "".join(alpha[j] for j in rng.integers(
                        0, 4, rng.integers(0, 200)))
                    t = flank + t + flank[::-1]
                # k straddles the true-distance scale: 0..60, all < 64
                # (single-word band on a multi-word query)
                k = int(rng.integers(0, 61))
                qs.append(q)
                ts.append(t)
                ks.append(k)
                cases.append((mode, "distance", k, eqs, q, t))
            want = [w[0] for w in _run_reference(probe, cases)]
            for native in (True, False):
                with native_lane(native):
                    got = batch_edit_distance(
                        qs, ts, mode, np.array(ks), equalities=pairs)
                assert got.tolist() == want, (mode, eqs, native)
