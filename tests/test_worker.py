"""The per-task Python floor: ``worker.init`` at the kernel entries.

PySpark calls ``importlib.invalidate_caches()`` before every task; each
``zipimporter`` left in ``sys.path_importer_cache`` then re-reads its
archive.  ``worker.init`` drops them (and pins pyarrow to one thread),
so on a reused worker the next task's invalidation is near free.
"""

import importlib
import os
import sys
import zipfile
import zipimport

from medcat_spark import worker
from medcat_spark.functions.media import (media_adpcm_stats,
                                          synth_adpcm_column)


def test_init_drops_zip_importers_and_zip_imports_still_work(tmp_path):
    zpath = str(tmp_path / "floor_probe.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("floor_probe_mod.py", "VALUE = 42\n")
    sys.path.insert(0, zpath)
    try:
        sys.path_importer_cache[zpath] = zipimport.zipimporter(zpath)
        kept = {p: f for p, f in sys.path_importer_cache.items()
                if not isinstance(f, zipimport.zipimporter)}
        worker.init()
        assert zpath not in sys.path_importer_cache
        assert not any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        # every other finder (FileFinder, None) is left in place
        for p, f in kept.items():
            assert sys.path_importer_cache.get(p) is f
        # PathFinder rebuilds the importer on demand: the import works
        mod = importlib.import_module("floor_probe_mod")
        assert mod.VALUE == 42
        assert isinstance(sys.path_importer_cache[zpath],
                          zipimport.zipimporter)
    finally:
        sys.path.remove(zpath)
        sys.path_importer_cache.pop(zpath, None)
        sys.modules.pop("floor_probe_mod", None)


def test_reused_workers_start_tasks_without_zip_importers(spark, tmp_path):
    """Two waves of ``4 x cores`` tasks: on every worker process that
    already ran a task, the next task starts with no zip importer, its
    ``invalidate_caches()`` is fast and pyarrow is pinned.  The media
    operator is a kernel entry too: after a wave that puts a zip
    importer back on every worker, a media operator wave leaves each of
    those workers starting its next task without one."""
    cores = spark.sparkContext.defaultParallelism
    n = 4 * cores

    def probe(batches):
        import time

        import pyarrow as pa

        from medcat_spark import worker as w
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in list(sys.path_importer_cache.values()))
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        w.init()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "zips": [zips], "ms": [ms],
            "cpu": [pa.cpu_count()], "io": [pa.io_thread_count()]})

    schema = "pid long, zips long, ms double, cpu long, io long"
    df = spark.range(n).repartition(n).mapInArrow(probe, schema)
    first = {r.pid for r in df.collect()}
    second = [r for r in df.collect() if r.pid in first]
    assert second, "no Python worker was reused between the waves"
    for r in second:
        assert r.zips == 0, r
        assert r.ms < 20, r
        assert (r.cpu, r.io) == (1, 1), r

    zpath = str(tmp_path / "dirty.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("dirty_mod.py", "")

    def dirty(batches):
        import pyarrow as pa
        sys.path_importer_cache[zpath] = zipimport.zipimporter(zpath)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()]})

    def peek(batches):
        import pyarrow as pa
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in list(sys.path_importer_cache.values()))
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()],
                                          "zips": [zips]})

    dirtied = {r.pid for r in spark.range(n).repartition(n)
               .mapInArrow(dirty, "pid long").collect()}
    # Spark hands idle workers out first-in first-out, so 2 x n media
    # kernel runs (synth + decode per task) reach every dirtied worker
    ids = spark.range(n).repartition(n).withColumnRenamed("id", "doc_id")
    assert media_adpcm_stats(synth_adpcm_column(ids)).count() == n
    third = [r for r in spark.range(n).repartition(n)
             .mapInArrow(peek, "pid long, zips long").collect()
             if r.pid in dirtied]
    assert third, "no dirtied Python worker was reused"
    for r in third:
        assert r.zips == 0, r
