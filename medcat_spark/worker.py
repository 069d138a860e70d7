"""The one Python worker kernel every ``mapInArrow`` in the engine runs
(:func:`kernel`), and the per-task setup it does (:func:`init`).  A map
site writes only a ``body`` generator: per-task setup before its loop,
then ``{field: list}`` column dicts out (columns, not row tuples: the
``zip(*rows)`` transpose costs about half again as much).

Spark reuses a Python worker process across tasks.  Before every task
PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory.  A reused worker holds about 16 of them
(``pyspark.zip`` and its package dirs, the py4j zip, the ``spark-core``
jar, and ``medcat_spark.zip`` under ``--py-files``), which costs tens of
milliseconds of CPU per task before any kernel code runs.

:func:`init` drops those importers on every call, so the next task's
``invalidate_caches()`` has no archive to re-read.  This is safe on any
CPython: ``sys.path_importer_cache`` is a cache that ``PathFinder``
refills on demand, and a new ``zipimporter`` for an archive already read
takes its directory from ``zipimport._zip_directory_cache``.  It runs on
every call rather than once per process because a lazy import inside a
task (a head module loaded from ``medcat_spark.zip``) creates importers
again.

The hook lives in :func:`kernel` and the Iceberg bucket Arrow UDFs, not
in ``spark.python.daemon.module``: ``pyspark/daemon.py`` honours only
``pyspark*`` worker modules, and a custom daemon module must be
importable before any task adds its ``--py-files``.
"""

from __future__ import annotations

import sys
import zipimport


def init() -> None:
    """Pin pyarrow to one compute and one IO thread and drop every zip
    importer from ``sys.path_importer_cache``."""
    import pyarrow as pa
    # pyarrow sizes its CPU pool for the whole machine; with one Python
    # worker per core that oversubscribes cores N-fold and inverts
    # scaling (measured: >100% CPU per worker, worse wall-clock at 32
    # cores than 8).  The pools are process-wide: set them once.
    if pa.cpu_count() != 1:
        pa.set_cpu_count(1)
    if pa.io_thread_count() != 1:
        pa.set_io_thread_count(1)
    # a process's first pa.array imports pandas: before the drop, not after
    pa.array([])
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def kernel(schema, body):
    """The ``mapInArrow`` function: :func:`init`, then ``body`` over a
    lazy iterator of per-batch row-dict lists; each column dict it
    yields with rows becomes one batch of ``schema``, a ``StructType``
    (no SparkContext needed) or a DDL string resolved on the driver."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def fn(batches):
        init()
        for cols in body(rb.to_pylist() for rb in batches):
            if cols and len(next(iter(cols.values()))):
                yield pa.RecordBatch.from_pydict(cols, schema=arrow_schema)
    return fn
