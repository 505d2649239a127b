"""edlib-spark: PySpark-native record-linkage engine with edlib's
alignment semantics (see README.md / SURVEY.md).

Public surface:
  * kernel.align            — exact single-pair aligner (reference-parity)
  * batch.batch_edit_distance — batch distance hot path (native scan)
  * functions.alignment     — Column API (edit_distance, align_expr, ...)
  * plans.linkage.run_linkage — the end-to-end pipeline
"""

import sys

from .batch import batch_edit_distance
from .kernel import align

__version__ = "0.4.0"

# Inside a PySpark worker (which unpickles the engine's UDFs and so
# imports this package), stop every later task from re-reading
# pyspark.zip: ~240 ms of CPU per task before Python 3.13.
if "pyspark.worker_util" in sys.modules:
    from . import _worker_import
    _worker_import.install()

# The Column API needs pyspark + pandas, which the wheel declares only
# under the [spark] extra (cluster images usually provide them); the
# kernel/batch surface above is numpy-only.  Resolve the Spark names
# lazily (PEP 562) so `import edlib_spark` — and the exact-aligner use
# case — work from a bare `pip install edlib-spark`.
_SPARK_API = ("align_expr", "edit_distance", "nice_alignment",
              "norm_distance")

__all__ = [
    "align",
    "align_expr",
    "batch_edit_distance",
    "edit_distance",
    "nice_alignment",
    "norm_distance",
    "__version__",
]


def __getattr__(name):
    if name in _SPARK_API:
        from .functions import alignment
        return getattr(alignment, name)
    raise AttributeError(
        f"module {__name__!r} has no attribute {name!r}")


def __dir__():
    return sorted(set(globals()) | set(_SPARK_API))
