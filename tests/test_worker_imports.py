"""What Spark's Python workers import: the package zip ``register_ibmmq``
ships to them, and the stat-gated zip directory reload they install
(spark_ibm_mq_spark/zipimport_gate.py)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import spark_ibm_mq_spark  # noqa: F401  (the import that installs the gate in a worker)
from spark_ibm_mq_spark import zipimport_gate
from spark_ibm_mq_spark.session import scratch_base
from spark_ibm_mq_spark.sources import register_ibmmq


def test_package_zip_is_added_once_under_scratch(spark):
    register_ibmmq(spark)
    register_ibmmq(spark)
    zips = [f for f in spark.sparkContext.listFiles if f.endswith("/spark_ibm_mq_spark_pkg.zip")]
    assert len(zips) == 1, spark.sparkContext.listFiles
    assert zips[0].split(":", 1)[-1].startswith(os.path.join(scratch_base(), "ibmmq_pkg_")), zips


def _write_probe_zip(path: str, value: int, pad: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zipgate_probe_mod.py", f"VALUE = {value}\n" + "#" * pad + "\n")


def test_gate_skips_unchanged_archive_and_reloads_a_rewritten_one(tmp_path, monkeypatch):
    # this process is a driver, not a worker: importing the package left
    # the stock method in place
    assert zipimport.zipimporter.invalidate_caches is zipimport_gate._stock_invalidate

    archive = str(tmp_path / "probe.zip")
    _write_probe_zip(archive, 1, 0)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipgate_probe_mod", raising=False)
    assert importlib.import_module("zipgate_probe_mod").VALUE == 1

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport_gate._stock_invalidate)
    monkeypatch.setattr(zipimport_gate, "_read_at", {})
    zipimport_gate.install()
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    assert reads == []

    _write_probe_zip(archive, 2, 100)
    importlib.invalidate_caches()
    assert reads == [archive]
    del sys.modules["zipgate_probe_mod"]
    assert importlib.import_module("zipgate_probe_mod").VALUE == 2


def test_worker_call_reads_no_zip_directory_once_package_is_imported(spark):
    """A reused Python worker's per-call ``importlib.invalidate_caches()``
    reads no zip directory again once the package has been imported there."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        from spark_ibm_mq_spark import zipimport_gate

        read_directory = zipimport._read_directory
        if not hasattr(read_directory, "calls"):

            def counted(path, _read=read_directory):
                counted.calls += 1
                return _read(path)

            counted.calls = 0
            zipimport._read_directory = read_directory = counted
        for _ in batches:
            pass
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        gated = zipimport.zipimporter.invalidate_caches is zipimport_gate._invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [read_directory.calls], "zips": [zips], "gated": [gated]}
        )

    df = spark.range(1, numPartitions=1).mapInArrow(
        probe, "pid long, reads long, zips long, gated boolean"
    )
    seen: dict[int, int] = {}
    for _ in range(30):  # each run is one task on one idle worker
        (row,) = df.collect()
        assert row.gated and row.zips > 0
        if row.pid in seen:
            assert row.reads == seen[row.pid]
            return
        seen[row.pid] = row.reads
    raise AssertionError(f"no Python worker was reused in 30 calls: {sorted(seen)}")
