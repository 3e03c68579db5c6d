"""Python-worker daemon that pre-imports the Arrow/pandas stack.

PySpark launches ONE daemon process per executor (``python -m
pyspark.daemon``) and forks a child per concurrent task slot
(pyspark/daemon.py: ``manager`` -> ``os.fork``).  The stock daemon
imports only the worker plumbing, so the FIRST Arrow-vectorized job
pays ``num_slots x import(pandas+numpy+pyarrow)`` — measured ~4-5 s of
wall on local[32] because 32 forked workers each re-execute the same
~1.5 s import chain against a contended filesystem/CPU.

Importing the heavy modules HERE — in the daemon, before any fork —
lets every worker inherit the already-initialised modules through
copy-on-write pages for free.  This is the same trick the reference
runtime gets structurally (one JVM per worker loads the job jar once:
``giraph-core/.../graph/GraphTaskManager.java`` worker setup), recast
for CPython's fork model.

Enabled via ``spark.python.daemon.module=giraph_spark.daemon_warm``
(set in :func:`giraph_spark.session.get_spark`).  The module must be
importable by the worker Python — ``session.get_spark`` prepends the
repo root to ``PYTHONPATH`` before the JVM launches so the daemon's
environment carries it.

Fork-safety: an OpenBLAS-backed numpy starts its BLAS thread pool when
the library loads, at ``import numpy`` (numpy 1.26: nproc - 1 threads),
and a child forked from a multi-threaded process can hang on a lock one
of those threads held.  So ``_prewarm`` sets ``OPENBLAS_NUM_THREADS=1``
before the import (``setdefault``: a value the user exported still
wins), and numpy then starts no thread; each forked worker is one task
slot, so single-threaded BLAS is what it would use anyway.  The one
thread the other imports start is pyarrow's jemalloc background thread,
and jemalloc re-initialises its own locks in a forked child.  If any
import fails we fall through and let workers import lazily as before — a
slow warm-up, never a wrong answer.
"""

from __future__ import annotations

import os


def _prewarm() -> None:
    # before numpy loads OpenBLAS, which sizes its thread pool at load
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    try:  # pragma: no cover - executed inside the daemon process
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyarrow.pandas_compat  # noqa: F401  (the to_pandas hot path)

        # the serializer chain the Arrow worker unpickles first
        from pyspark.sql.pandas import serializers  # noqa: F401
        from pyspark.sql.pandas import types  # noqa: F401
    except Exception:  # noqa: BLE001 - degrade to lazy per-worker imports
        pass


if __name__ == "__main__":
    _prewarm()
    from pyspark.daemon import manager

    manager()
