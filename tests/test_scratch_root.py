"""``__spark_entry__._scratch_root``: the per-process scratch directory of
the registry queries that write their own tables (no Spark needed)."""

import os
import shutil
import subprocess
import uuid

import __spark_entry__ as entrymod


def test_scratch_root_removes_dead_siblings_and_keeps_live_ones():
    kind = f"surface_{uuid.uuid4().hex[:8]}"
    parent = f"/tmp/ocr_spark_{kind}_q"
    finished = subprocess.Popen(["true"])
    finished.wait()
    live = subprocess.Popen(["sleep", "60"])
    try:
        dead_dir = f"{parent}/0123456789-{finished.pid}"
        live_dir = f"{parent}/0123456789-{live.pid}"
        for d in (dead_dir, live_dir):
            os.makedirs(d)
            open(f"{d}/part-0.parquet", "w").close()
        root = entrymod._scratch_root(kind, "/data/sf0.001")
        os.makedirs(f"{root}/in")
        assert root.startswith(f"{parent}/") and root.endswith(f"-{os.getpid()}")
        assert not os.path.exists(dead_dir)
        assert os.path.isfile(f"{live_dir}/part-0.parquet")
        # a second call in the same process starts from an empty directory
        assert entrymod._scratch_root(kind, "/data/sf0.001") == root
        assert not os.path.exists(root)
    finally:
        live.kill()
        live.wait()
        shutil.rmtree(parent, ignore_errors=True)
