"""Zip-archive directories are read once per change, not once per task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import butterfly_osm_spark  # installs the backport

pre_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from Python 3.13 on"
)


@pre_313
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = os.fspath(tmp_path / "mods.zip")

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name, body in modules.items():
                z.writestr(f"{name}.py", body)

    write(zc_alpha="X = 1\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_alpha", "zc_beta"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_alpha").X == 1

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or read(path))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    write(zc_alpha="X = 1\n", zc_beta="Y = 2\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_beta").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


@pre_313
def test_workers_stop_rereading_zip_directories(spark):
    def reads_per_task(batches):
        """One row per task: (worker pid, task number in that worker, zip
        directory reads the worker has done since its first such task)."""
        # referencing the package makes unpickling this UDF import it
        assert butterfly_osm_spark.__version__
        read = zipimport._read_directory
        if not hasattr(read, "calls"):

            def counted(path, _read=read):
                counted.calls += 1
                return _read(path)

            counted.calls, counted.tasks = 0, 0
            zipimport._read_directory = read = counted
        read.tasks += 1
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "task": [read.tasks], "reads": [read.calls]})

    sc = spark.sparkContext
    n = 3 * sc.defaultParallelism
    rows = (
        spark.range(0, n, 1, n)
        .mapInPandas(reads_per_task, "pid long, task long, reads long")
        .collect()
    )
    assert len(rows) == n
    by_worker = {}
    for r in rows:
        by_worker.setdefault(r.pid, []).append((r.task, r.reads))
    assert any(len(v) > 1 for v in by_worker.values()), "no worker ran two tasks"
    for pid, tasks in by_worker.items():
        tasks.sort()
        assert {reads for _, reads in tasks} == {tasks[0][1]}, f"worker {pid} kept re-reading: {tasks}"
