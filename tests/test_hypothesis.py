"""Property-based differential tests (hypothesis): kernel and batch
scorer vs the naive DP oracle on arbitrary generated inputs — the
random-differential strategy of the reference suite
(test/runTests.cpp:33-77) with hypothesis-driven shrinking on failure."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import native_lane
from edlib_spark import kernel
from edlib_spark.batch import batch_edit_distance
from edlib_spark.oracle import simple_edit_distance

ALPHABET = "abcde"  # small alphabet maximizes edit-structure collisions
TEXT = st.text(alphabet=ALPHABET, min_size=0, max_size=80)
MODES = st.sampled_from(["NW", "SHW", "HW"])
COMMON = dict(deadline=None,
              suppress_health_check=[HealthCheck.too_slow])


@settings(max_examples=60, **COMMON)
@given(q=TEXT, t=TEXT, mode=MODES)
def test_kernel_distance_matches_oracle(q, t, mode):
    want, want_pos = simple_edit_distance(q, t, mode)
    got = kernel.align(q, t, mode=mode, task="locations")
    assert got["editDistance"] == want
    assert [e for _, e in got["locations"]] == list(want_pos)


@settings(max_examples=60, **COMMON)
@given(q=TEXT, t=TEXT, mode=MODES)
def test_length_prune_lower_bound_is_sound(q, t, mode):
    """Soundness of the scorers' JVM-side length prune
    (operators/scoring._length_prune): a pair may be pruned when its
    length-derived lower bound already exceeds k, so the bound must
    never exceed the true distance.  NW: d >= |len(q) - len(t)| (the
    reference's shortcut, edlib.cpp:744-747).  HW/SHW: the target end
    (and start, for HW) is free, so only d >= len(q) - len(t) holds —
    the two-sided bound is FALSE there (a short query inside a long
    target can reach 0), which is why the prune is mode-split."""
    d = kernel.align(q, t, mode=mode)["editDistance"]
    if mode == "NW":
        assert d >= abs(len(q) - len(t))
    else:
        assert d >= len(q) - len(t)
        # and the two-sided bound must be violable: witnessed by the
        # fixed corpus test (test_plans.py), not asserted per-example


@settings(max_examples=60, **COMMON)
@given(q=TEXT.filter(bool), t=TEXT.filter(bool), mode=MODES,
       delta=st.integers(-1, 1))
def test_k_bound_contract_property(q, t, mode, delta):
    """For k = true_distance + delta: resolved iff delta >= 0
    (the reference's k-sweep contract, runTests.cpp:167-193).
    Nonempty inputs only: the reference's empty-sequence short-circuit
    ignores k entirely (probed: edlibAlign('', 'a', k=0) -> 1), which
    kernel.align reproduces and test_empty_inputs_k_quirk pins."""
    want, _ = simple_edit_distance(q, t, mode)
    k = want + delta
    if k < 0:
        return
    got = kernel.align(q, t, mode=mode, k=k)["editDistance"]
    assert got == (want if delta >= 0 else -1)


def test_empty_inputs_k_quirk():
    """Reference parity: empty-input distances bypass the k bound in
    edlibAlign (edlib.cpp:165-184 runs before the k loop; verified
    against the compiled reference).  Since round 2 the batch scorer
    matches this too (it previously applied k; the linkage threshold is
    unaffected because norm_distance still rejects those pairs)."""
    assert kernel.align("", "a", mode="NW", k=0)["editDistance"] == 1
    assert kernel.align("ab", "", mode="NW", k=0)["editDistance"] == 2
    assert list(batch_edit_distance([""], ["a"], "NW", 0)) == [1]
    assert list(batch_edit_distance([""], ["a"], "NW", 1)) == [1]


@settings(max_examples=25, **COMMON)
@given(pairs=st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=12),
       mode=MODES, native=st.booleans())
def test_batch_matches_oracle_property(pairs, mode, native):
    qs = [p[0] for p in pairs]
    ts = [p[1] for p in pairs]
    with native_lane(native):
        got = batch_edit_distance(qs, ts, mode, -1)
    for i, (q, t) in enumerate(pairs):
        want, _ = simple_edit_distance(q, t, mode)
        assert got[i] == want, (q, t, mode, native)


@settings(max_examples=40, **COMMON)
@given(q=TEXT.filter(bool), t=TEXT.filter(bool))
def test_path_replays_to_distance(q, t):
    """Any NW path must replay against both strings and cost exactly
    editDistance (the reference's checkAlignment invariant,
    runTests.cpp:592-641) — delegated to oracle.check_alignment."""
    import re

    from edlib_spark.oracle import check_alignment
    res = kernel.align(q, t, mode="NW", task="path")
    start = res["locations"][0][0] or 0
    codes = {"=": 0, "I": 1, "D": 2, "X": 3}  # EDOP codes, edlib.h:83-87
    path = []
    for n, op in re.findall(r"(\d+)([=IDX])", res["cigar"]):
        path.extend([codes[op]] * int(n))
    assert check_alignment(q, t, path, start, "NW") == res["editDistance"]


@settings(max_examples=40, **COMMON)
@given(base=st.text(alphabet=ALPHABET, min_size=70, max_size=200),
       edits=st.lists(st.tuples(st.integers(0, 10_000),
                                st.sampled_from("xyz")),
                      min_size=0, max_size=6),
       k=st.integers(0, 70), mode=MODES,
       native=st.booleans())
def test_tight_k_near_identical_property(base, edits, k, mode, native):
    """Property form of the tight-k band regression: multi-block
    near-identical pairs with k near (or below) the true distance must
    agree with the exact kernel on both batch lanes."""
    t = list(base)
    for pos, ch in edits:
        t[pos % len(t)] = ch
    t = "".join(t)
    want = kernel.align(base, t, mode=mode, k=k)["editDistance"]
    with native_lane(native):
        got = batch_edit_distance([base], [t], mode, k)
    assert int(got[0]) == want
