"""mindocr_spark — a PySpark-native document-text-extraction engine.

Re-expresses the capabilities of mindspore-lab/mindocr (text detection →
crop → angle classification → CTC recognition → per-document merge, plus
an HTML main-content text path) as an idiomatic Spark DataFrame plan whose
image/geometry/string kernels run inside vectorized pandas/Arrow UDFs.

The neural-network forwards of the reference are replaced by deterministic
scorer functions with identical I/O contracts (see ``mindocr_spark.kernels``),
so the single-process oracle (``mindocr_spark.oracle``) and the Spark job
share every kernel bit-for-bit and per-document span-sequence equality is
exact and testable.

Reference citations in docstrings point into the read-only checkout of
mindspore-lab/mindocr (e.g. ``tools/infer/text/predict_system.py:255-355``).
"""

import os

# One BLAS/OMP thread per process: each Spark task is already a process, and
# letting OpenBLAS fan out inside every worker (or the driver running kernels
# in-process) oversubscribes the box. OpenBLAS reads these once, when numpy
# loads, so they are set here, before any submodule imports numpy.
for _var in (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
):
    os.environ.setdefault(_var, "1")

__version__ = "0.1.0"
