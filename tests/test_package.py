"""Ship paths: dist/edlib_spark.zip (``spark-submit --py-files``) and
the pip wheel — build each artifact and prove the package imports AND
computes from the artifact alone.

This is how executors receive the engine on a real cluster (the north
rule's ship criterion): the zip goes on every executor's sys.path (or
the wheel is baked into the cluster image), so every module must be
importable without the repo checkout present.  Each test runs a
subprocess whose cwd and sys.path contain ONLY the artifact (no
/root/repo), imports the kernel and the batch path, and checks known
alignments — including the batch kernel, whose optional cffi build
writes to ~/.cache (never into the package dir, so it is zip-safe) and
falls back to the exact per-pair kernel when no compiler exists.
"""

import os
import subprocess
import sys


def _repo():
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tools():
    # shared file-path loader (no sys.path mutation) — see conftest
    from conftest import load_tools_package
    return load_tools_package()


# The probe asserts distances exactly but ROUND-TRIPS the CIGAR
# (replays it against the inputs) instead of pinning one optimal path:
# byte-exact path tie-breaking is the reference-parity suite's job
# (tests/test_reference_parity.py), not the packaging test's.
_PROBE = r"""
import re
import sys
art_path = sys.argv[1]
# only the artifact (plus stdlib/site-packages for numpy) — no checkout
sys.path.insert(0, art_path)
import edlib_spark
assert art_path in edlib_spark.__file__, edlib_spark.__file__

from edlib_spark.kernel import align
q, t = "telephone", "elephant"
r = align(q, t, mode="NW", task="path")
assert r["editDistance"] == 3, r
qi = ti = cost = 0
for ln, op in re.findall(r"(\d+)([=XID])", r["cigar"]):
    ln = int(ln)
    if op == "=":
        assert q[qi:qi + ln] == t[ti:ti + ln], r["cigar"]
        qi += ln; ti += ln
    elif op == "X":
        assert all(q[qi + i] != t[ti + i] for i in range(ln)), r["cigar"]
        qi += ln; ti += ln; cost += ln
    elif op == "I":
        qi += ln; cost += ln
    else:
        ti += ln; cost += ln
assert (qi, ti, cost) == (len(q), len(t), 3), (r["cigar"], qi, ti, cost)

from edlib_spark.batch import batch_edit_distance
d = batch_edit_distance(["kitten", "abc", ""], ["sitting", "abc", "xy"])
assert list(d) == [3, 0, 2], d

from edlib_spark.oracle import simple_edit_distance
assert simple_edit_distance("kitten", "sitting", mode="NW")[0] == 3
print("ART_OK")
"""


def _probe(art_path: str, cwd: str) -> None:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, art_path],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ART_OK" in proc.stdout


def test_zip_imports_and_computes(tmp_path):
    out = _tools().build(str(tmp_path / "edlib_spark.zip"))
    _probe(out, str(tmp_path))


def test_zip_is_reproducible(tmp_path):
    pkg = _tools()
    a = pkg.build(str(tmp_path / "a.zip"))
    b = pkg.build(str(tmp_path / "b.zip"))
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()


def test_wheel_pip_installs_and_computes(tmp_path):
    """pip must accept the wheel offline (hash-checked RECORD included)
    and the installed tree must compute — the cluster-image install
    path, complementing the --py-files zip path."""
    whl = _tools().build_wheel(str(tmp_path))
    target = tmp_path / "site"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-m", "pip", "install", "--quiet", "--no-index",
         "--no-deps", "--target", str(target), whl],
        env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    _probe(str(target), str(tmp_path))


def test_wheel_is_reproducible(tmp_path):
    pkg = _tools()
    a = pkg.build_wheel(str(tmp_path / "a"))
    b = pkg.build_wheel(str(tmp_path / "b"))
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()


_NUMPY_ONLY_PROBE = r"""
import sys
art_path = sys.argv[1]
sys.path.insert(0, art_path)

# simulate the wheel's declared dependency set (numpy only): any import
# of pyspark/pandas/pyarrow fails exactly as on a bare install
class _Block:
    BLOCKED = ("pyspark", "pandas", "pyarrow")
    def find_spec(self, name, path=None, target=None):
        if name.split(".")[0] in self.BLOCKED:
            raise ModuleNotFoundError(f"No module named {name!r} (blocked)",
                                      name=name)
        return None
sys.meta_path.insert(0, _Block())
for _m in list(sys.modules):
    if _m.split(".")[0] in _Block.BLOCKED:
        del sys.modules[_m]

import edlib_spark
assert art_path in edlib_spark.__file__, edlib_spark.__file__
assert edlib_spark.align("kitten", "sitting")["editDistance"] == 3
assert list(edlib_spark.batch_edit_distance(["ab"], ["axb"])) == [1]
# the Spark Column API must fail only at ACCESS time, with the real cause
try:
    edlib_spark.edit_distance
except ModuleNotFoundError:
    pass
else:
    raise AssertionError("edit_distance resolved without pyspark")
print("NUMPY_ONLY_OK")
"""


def test_wheel_numpy_only_import(tmp_path):
    """pyproject declares numpy as the only hard dependency; prove the
    installed wheel imports and computes under exactly that set (the
    Spark Column API degrades to an access-time ModuleNotFoundError)."""
    whl = _tools().build_wheel(str(tmp_path))
    target = tmp_path / "site"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-m", "pip", "install", "--quiet", "--no-index",
         "--no-deps", "--target", str(target), whl],
        env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    proc = subprocess.run(
        [sys.executable, "-c", _NUMPY_ONLY_PROBE, str(target)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "NUMPY_ONLY_OK" in proc.stdout


def test_wheel_version_in_sync(tmp_path):
    """All three version surfaces resolve to the one source of truth
    (edlib_spark.__version__): the wheel builder parses it, and
    pyproject.toml declares it via setuptools dynamic versioning."""
    import tomllib

    import edlib_spark
    assert _tools().VERSION == edlib_spark.__version__
    with open(os.path.join(_repo(), "pyproject.toml"), "rb") as fh:
        proj = tomllib.load(fh)
    assert "version" in proj["project"]["dynamic"]
    assert (proj["tool"]["setuptools"]["dynamic"]["version"]["attr"]
            == "edlib_spark.__version__")
    assert "version" not in proj["project"]
