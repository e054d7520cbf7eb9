"""The engine's Python worker daemon: ``pyspark.daemon`` with a cheaper
per-task set-up (``spark.python.daemon.module=ocr_spark._daemon``, set by
``session.get_spark``).

Every task a reused Python worker runs starts with
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython 3.11 that makes every cached
``zipimporter`` (one per package the worker imported from ``pyspark.zip`` or
the spark-core jar on the workers' ``PYTHONPATH``) re-read its archive's whole
central directory in pure Python: 0.17-0.43 s of CPU per task on a 4-core VM.
The call only matters when the task can import something the worker's import
caches do not know yet, i.e. when ``sys.path`` or the SparkFiles root (where
``addFile``/``addPyFile`` land their files) changed since the worker's last
task. ``SetupSparkFiles`` runs pyspark's own set-up and calls
``invalidate_caches()`` only then. CPython >= 3.12 re-reads zip directories
lazily, so the saving shrinks there; the rule stays correct.

Nothing is pre-imported before the fork: the daemon's own imports are what
``pyspark.daemon`` imports anyway, so the workers' memory does not grow.

The module must be importable when Spark starts the daemon, before any task
has put ``--py-files`` entries on ``sys.path``: from the working directory
(local mode run from the repo root), an installed package, or
``spark.executorEnv.PYTHONPATH``.
"""

from __future__ import annotations

import importlib
import os
import sys
from typing import IO

from pyspark import worker_util
from pyspark.core.files import SparkFiles


def _keep_caches() -> None:
    """Stands in for ``importlib.invalidate_caches`` inside pyspark's set-up."""


class SetupSparkFiles:
    """Drop-in for ``pyspark.worker_util.setup_spark_files`` that invalidates
    the import caches only when the import path or the SparkFiles root's
    listing differs from this worker's previous task."""

    def __init__(self) -> None:
        self._seen: tuple | None = None

    def __call__(self, infile: IO) -> None:
        invalidate = importlib.invalidate_caches
        importlib.invalidate_caches = _keep_caches
        try:
            worker_util.setup_spark_files(infile)
        finally:
            importlib.invalidate_caches = invalidate
        seen = (tuple(sys.path), tuple(sorted(os.listdir(SparkFiles.getRootDirectory()))))
        if seen != self._seen:
            self._seen = seen
            invalidate()


if __name__ == "__main__":
    from pyspark import daemon

    # the worker module the daemon serves (argv[1], default pyspark.worker)
    # calls setup_spark_files through its own globals
    sys.modules[daemon.worker_main.__module__].setup_spark_files = SetupSparkFiles()
    daemon.manager()
