"""The local Python worker daemon: a reused worker does not re-read an
unchanged zip archive per task, and a changed one is still re-read."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from meds_transforms_spark import get_spark, worker_daemon

DAEMON = "meds_transforms_spark.worker_daemon"


def test_reused_worker_keeps_zip_directories(spark):
    def snapshot(batches):
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        ids = sorted(id(files) for files in zipimport._zip_directory_cache.values())
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "ids": [ids]})

    df = spark.range(1, numPartitions=1)
    seen: dict[int, list[list[int]]] = {}
    # idle workers are handed out in turn, and earlier tests can leave
    # many idle, so a pid repeats only after (idle workers + 1) jobs
    for _ in range(64):
        (row,) = df.mapInArrow(snapshot, "pid long, ids array<long>").collect()
        seen.setdefault(row["pid"], []).append(row["ids"])
        if len(seen[row["pid"]]) == 2:
            break
    reused = {pid: snaps for pid, snaps in seen.items() if len(snaps) > 1}
    assert reused, f"no worker ran two tasks ({len(seen)} workers)"
    for snaps in reused.values():
        assert snaps[0], "the worker imported nothing from a zip archive"
        assert all(s == snaps[0] for s in snaps)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # importing the daemon module leaves the stdlib's method in place
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"gate_probe_a": "X = 1\n"})

    class Gated(zipimport.zipimporter):
        invalidate_caches = worker_daemon._gated(
            zipimport.zipimporter.invalidate_caches
        )

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importer = Gated(archive)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)
    try:
        assert len(reads) == 1  # the importer's own first read
        importer.invalidate_caches()  # seeds the gate: one read
        assert len(reads) == 2
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 2

        _write_zip(archive, {"gate_probe_a": "X = 1\n", "gate_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 3
        assert importlib.import_module("gate_probe_b").Y == 2
    finally:
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("gate_probe_a", "gate_probe_b"):
            sys.modules.pop(name, None)


@pytest.mark.parametrize(
    "master, daemon",
    [("local[2]", DAEMON), ("local", DAEMON), ("spark://host:7077", None)],
)
def test_get_spark_sets_daemon_for_local_masters(monkeypatch, master, daemon):
    class Built(Exception):
        pass

    options = {}

    def capture(builder):
        options.update(builder._options)
        raise Built

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(Built):
        get_spark(master=master)
    assert options.get("spark.python.daemon.module") == daemon
