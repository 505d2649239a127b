import contextlib
import importlib.util
import os
import shutil
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_tools_package():
    """Load tools/package.py by explicit file path — shared by the
    packaging and ship-path tests so neither mutates sys.path (a path
    insert could shadow an installed edlib_spark/tools for every test
    that runs after it)."""
    spec = importlib.util.spec_from_file_location(
        "edlib_spark_tools_package",
        os.path.join(REPO, "tools", "package.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@contextlib.contextmanager
def native_lane(native: bool):
    """Run the body on one batch-scoring lane: ``native=True`` keeps the
    C scan (when it built), ``native=False`` hides the library the way a
    host without a compiler sees it, so every pair takes the exact
    per-pair fallback.  A plain context manager, not a fixture, so
    hypothesis tests and in-body lane loops can use it too."""
    from edlib_spark import _native

    saved = _native.lib
    if not native:
        _native.lib = None
    try:
        yield
    finally:
        _native.lib = saved


def native_nw_paths(qs, ts, ks, eqs=None, extended=True):
    """``native_batch`` over (qs, ts) at per-pair bounds ``ks`` with
    every pair asked for its NW path: (distances, CIGARs), the CIGAR
    None where the entry built none."""
    import numpy as np

    from edlib_spark import _native
    from edlib_spark.batch import (
        _encode_equalities, _symbol_pairs, encode_flat,
    )

    dist, _, cigars = _native.native_batch(
        *encode_flat(qs), *encode_flat(ts), np.asarray(ks, np.int64), "NW",
        _encode_equalities(_symbol_pairs(eqs)),
        path=np.ones(len(qs), bool), extended=extended)
    return dist.tolist(), cigars


@pytest.fixture(scope="session")
def spark():
    from edlib_spark.session import get_spark
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("edlib-spark-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_run_dir():
    d = tempfile.mkdtemp(prefix="edlib_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
