"""The engine's worker daemon (``ocr_spark._daemon``): per-task set-up skips
the import-cache flush only when nothing on the import path changed, and
files added mid-session still import on reused workers."""

import importlib
import io
import sys
import zipfile

from pyspark.core.files import SparkFiles
from pyspark.serializers import write_int, write_with_length

from ocr_spark._daemon import SetupSparkFiles


def _task_header(root, includes) -> io.BytesIO:
    """The set-up frames of one task: SparkFiles root, include count, names."""
    buf = io.BytesIO()
    write_with_length(str(root).encode("utf-8"), buf)
    write_int(len(includes), buf)
    for name in includes:
        write_with_length(name.encode("utf-8"), buf)
    buf.seek(0)
    return buf


def test_setup_invalidates_caches_only_when_the_import_path_changed(tmp_path, monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(SparkFiles, "_root_directory", None)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    calls = []
    monkeypatch.setattr(importlib, "invalidate_caches", lambda: calls.append(1))
    setup = SetupSparkFiles()

    def task(*includes) -> int:
        setup(_task_header(tmp_path, includes))
        return len(calls)

    assert task() == 1  # first task of the worker
    assert task() == 1  # nothing changed
    (tmp_path / "added.py").write_text("X = 1\n")
    assert task() == 2  # a file landed in the root
    assert task() == 2
    (tmp_path / "dep.zip").write_bytes(b"")
    assert task() == 3
    assert task("dep.zip") == 4  # same listing, one more sys.path entry
    assert task("dep.zip") == 4
    assert str(tmp_path / "dep.zip") in sys.path


def _imported(spark, module: str) -> set:
    """Values of ``module.VALUE`` imported inside a UDF on every partition."""
    def udf(batches):
        mod = importlib.import_module(module)
        for pdf in batches:
            pdf["value"] = mod.VALUE
            yield pdf[["value"]]

    df = spark.range(0, 64, numPartitions=8).mapInPandas(udf, "value long")
    return {r.value for r in df.collect()}


def test_files_added_mid_session_import_on_reused_workers(spark, tmp_path):
    """Pins only that ``addPyFile`` files import on the session's reused
    workers, which run ``SetupSparkFiles``. It does not pin the skip rule:
    it still passes with a daemon that compares only ``sys.path`` or never
    flushes, because a ``FileFinder`` refreshes its listing when its
    directory's mtime changes (on a filesystem with fine-grained mtimes)
    and a new ``sys.path`` entry gets a fresh finder. The Spark-free test
    above is what pins the rule."""
    def setup_kind(batches):
        kind = type(sys.modules["pyspark.worker"].setup_spark_files).__name__
        for pdf in batches:
            yield pdf.assign(kind=kind)[["kind"]]

    kinds = spark.range(0, 64, numPartitions=8).mapInPandas(setup_kind, "kind string")
    assert {r.kind for r in kinds.collect()} == {"SetupSparkFiles"}

    # a .py lands in the SparkFiles root and leaves sys.path as it was
    py = tmp_path / "ocr_daemon_added_mod.py"
    py.write_text("VALUE = 41\n")
    spark.sparkContext.addPyFile(str(py))
    assert _imported(spark, "ocr_daemon_added_mod") == {41}

    # a .zip is put on sys.path
    zpath = tmp_path / "ocr_daemon_added_pkg.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("ocr_daemon_added_pkg/__init__.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(zpath))
    assert _imported(spark, "ocr_daemon_added_pkg") == {42}
