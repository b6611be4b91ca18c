"""Zip importers re-read an archive's directory only when it changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; importing the package makes that cheap for the zip archives
the worker imports pyspark from (``b2xtranslator_spark.__init__``)."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark.sql import types as T

import b2xtranslator_spark  # installs the stat-keyed directories


@pytest.fixture
def directory_reads(monkeypatch):
    """The archives ``zipimport._read_directory`` parses from now on."""
    reads = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, directory_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first": "X = 1\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zc_first").X == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        importlib.invalidate_caches()  # a new importer stamps on first use
        directory_reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in directory_reads

        # a rewritten archive (its size changes) is read again
        _write_zip(archive, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert directory_reads.count(archive) == 1
        assert importlib.import_module("zc_second").Y == 2

        # a deleted one as the stdlib has it: an empty directory, no cache
        (tmp_path / "mods.zip").unlink()
        importlib.invalidate_caches()
        assert directory_reads.count(archive) == 2
        assert importer.find_spec("zc_first") is None
        assert archive not in zipimport._zip_directory_cache
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("zc_first", "zc_second"):
            sys.modules.pop(name, None)


_STAMPED_AT_IMPORT = r"""
import importlib
import sys
import zipimport

archive = sys.argv[1]
sys.path.insert(0, archive)
import zc_early  # the importer exists before the package, as pyspark's do
reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read(path)
import b2xtranslator_spark
print(reads.count(archive), end=" ")
reads.clear()
importlib.invalidate_caches()
print(reads.count(archive))
"""


def test_importers_made_before_the_package_stamp_at_its_import(tmp_path):
    """An importer that exists when the package is imported (in a worker,
    the ones pyspark and py4j came from) is read once then, so the worker's
    next task start reads nothing."""
    import subprocess

    archive = str(tmp_path / "early.zip")
    _write_zip(archive, {"zc_early": "X = 1\n"})
    out = subprocess.run(
        [sys.executable, "-c", _STAMPED_AT_IMPORT, archive],
        cwd=b2xtranslator_spark.__file__.rsplit("/b2xtranslator_spark/", 1)[0],
        capture_output=True, text=True, timeout=120, check=True,
    )
    assert out.stdout.split() == ["1", "0"], out.stdout + out.stderr


def test_worker_tasks_do_not_reread_zip_archives(spark):
    """Run the extraction stage on every slot, start counting in each
    worker, run the stage again and read the counts: the second run's
    tasks, and the reading task's own start, parse no zip directory.
    Without the stat-keyed directories each task parses 16 (26,672
    records of pyspark.zip, the py4j zip and the spark-core jar, with
    Spark 4.1 on Python 3.11). The probes are local functions, which
    cloudpickle ships by value."""
    from b2xtranslator_spark.pipeline import MARKUP_PREFIX, run_extraction

    probe = T.StructType([
        T.StructField("pid", T.LongType()),
        T.StructField("zip_importers", T.LongType()),
        T.StructField("reads", T.LongType()),
    ])

    def start_counting(batches):
        import os
        import sys
        import zipimport

        if not hasattr(zipimport, "_probe_reads"):
            reads = zipimport._probe_reads = []
            read = zipimport._read_directory

            def counted(archive):
                reads.append(archive)
                return read(archive)

            zipimport._read_directory = counted
        zipimport._probe_reads.clear()
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "zip_importers": importers, "reads": 0}]
        )

    def reads_so_far(batches):
        import os
        import zipimport

        for _ in batches:
            pass
        reads = getattr(zipimport, "_probe_reads", None)
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "zip_importers": 0,
              "reads": -1 if reads is None else len(reads)}]
        )

    n = spark.sparkContext.defaultParallelism
    transcripts = spark.createDataFrame(
        [(f"c{i}", 0, f"{MARKUP_PREFIX}<p>turn {i}</p>", None) for i in range(4 * n)],
        "conv_id string, turn_idx int, text string, tool string",
    ).repartition(n)
    slots = spark.range(n, numPartitions=n)

    run_extraction(transcripts).count()
    started = {r.pid: r.zip_importers for r in slots.mapInArrow(start_counting, probe).collect()}
    if not any(started.values()):
        pytest.skip("the Python workers import nothing from a zip archive")
    run_extraction(transcripts).count()
    reads = {r.pid: r.reads for r in slots.mapInArrow(reads_so_far, probe).collect()}
    counted = {pid: reads[pid] for pid in reads if started.get(pid)}
    assert counted, "no worker served both counting tasks"
    assert set(counted.values()) == {0}, counted
