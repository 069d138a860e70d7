"""SparkSession factory with the scale-oriented defaults this engine
assumes (AQE + skew-join handling, Arrow batching, sane shuffle sizing)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def tune_allocator() -> bool:
    """Apply the glibc arena tuning to the CURRENT process via mallopt,
    and disable numpy's MADV_HUGEPAGE.

    The MALLOC_* env vars below only affect processes launched after
    they are set (the JVM and its Python workers) — the driver's own
    numpy workloads (golden-oracle recomputes, fixture training, the
    BPTT meta trainer) otherwise keep glibc defaults, where every large
    temporary is a fresh mmap that re-faults its pages on each batch
    (measured 8x on the RelCAT pair forward during degraded-host
    windows).  M_TRIM_THRESHOLD=-1 never returns heap to the kernel;
    M_MMAP_THRESHOLD=256MB keeps batch-sized buffers on the heap.

    The THP part is the big one: numpy madvises MADV_HUGEPAGE on every
    large allocation, so each first touch faults a 2 MB huge page.  On
    this sandbox's virtualized host, huge-page faults hit multi-hour
    degradation episodes at ~50-100x the 4 KB fault cost (ROOT CAUSE of
    the r3/r4 'degraded window' bench anomalies: 133 MB first-touch
    measured 19.2 s with hugepages vs 0.08 s without, in the same
    minute — and of BENCH/profile32.json's 26-46% kernel time at
    local[32]).  ``_set_madvise_hugepage(False)`` fixes the current
    process; the NUMPY_MADVISE_HUGEPAGE=0 env (read at numpy import)
    covers every forked Python worker.  Real-cluster posture: keep THP
    on hosts that back it with real huge pages; this guards the
    virtualized worst case at a few-percent TLB cost."""
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    ok3 = True
    try:
        from numpy.core import multiarray as _ma
        if hasattr(_ma, "_set_madvise_hugepage"):
            _ma._set_madvise_hugepage(
                os.environ["NUMPY_MADVISE_HUGEPAGE"] != "0")
    except Exception:       # numpy internals moved: env still covers workers
        ok3 = False
    try:
        import ctypes
        libc = ctypes.CDLL(None, use_errno=True)
        ok1 = libc.mallopt(-1, -1)                    # M_TRIM_THRESHOLD
        ok2 = libc.mallopt(-3, 256 * 1024 * 1024)     # M_MMAP_THRESHOLD
        return bool(ok1 and ok2 and ok3)
    except (OSError, AttributeError):
        return False       # non-glibc platform: nothing to tune


def fixed_heap_conf(heap: str) -> dict:
    """Fixed, pre-touched JVM heap + Arrow mimalloc pool for the
    high-parallelism measured paths (bench, scaling, stage profiling).

    Why: at local[32] a growable heap turns the 4x allocation rate into
    heap-expansion page faults + GC churn — measured on this box
    (BENCH/stage_attribution.json): 298 s GC / 820k JVM minor faults at
    local[32] vs 0.5 s / 23k at local[8] for the SAME job, and the A/B
    on the 32-core leg went 9.6k → 43.2k docs/s median (50.3k best)
    with this conf under identical host steal.  -Xms=-Xmx +
    AlwaysPreTouch moves every heap fault to startup (outside timed
    regions) — exactly how production executors run (fixed
    spark.executor.memory); the mimalloc Arrow pool retains freed
    segments across Python-worker batches.  Not a benchmark trick: the
    same conf ships for any 32-thread deployment of this engine.

    The heap is capped at the host-derived default driver heap (half of
    physical memory, at most 48g): a pre-touched heap larger than the
    host's RAM kills the JVM at start."""
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "mimalloc")
    cap = _default_driver_memory()
    if _size_bytes(heap) > _size_bytes(cap):
        heap = cap
    return {"spark.driver.memory": heap,
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -XX:+AlwaysPreTouch"}


_MIN_SHM_FREE = 2 << 30          # bytes free before tmpfs is used
_SIZE_SHIFT = {"k": 10, "m": 20, "g": 30, "t": 40}
_MAX_DRIVER_MEMORY = 48 << 30    # the default heap never exceeds 48g


def _default_local_dir() -> str:
    """Shuffle/spill scratch dir: prefer memory-backed tmpfs when
    present.  Shuffle blocks here are small and short-lived; on this
    class of virtualized host, file create/fsync on the root virtual
    disk costs ~10x tmpfs (measured: the same 128-partition shuffle
    1.44 s on tmpfs vs 2.86 s on /tmp before the writer fix, 0.34 s vs
    0.62 s after).  Production posture unchanged: deployments point
    SPARK_LOCAL_DIR at the local NVMe array exactly as Spark docs
    recommend; this default only covers the local/dev case."""
    d = os.environ.get("SPARK_LOCAL_DIR")
    if d:
        return d
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        # containers often cap /dev/shm at 64 MB, where the first spill
        # fails with no space left: tmpfs only with room to spill
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize >= _MIN_SHM_FREE:
            return os.path.join(shm, "spark-local")
    return "/tmp"


def _default_driver_memory() -> str:
    """Local mode: the driver JVM is the executor, so size its heap
    from the host — half of physical memory, capped at 48g — instead of
    a fixed 48g that outgrows a small host's RAM."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):
        phys = 2 * _MAX_DRIVER_MEMORY
    return "%dm" % (min(phys // 2, _MAX_DRIVER_MEMORY) >> 20)


def _size_bytes(size: str) -> int:
    """A JVM memory size ("32g", "8192m", "512k", plain bytes) in
    bytes."""
    s = size.strip().lower()
    if s[-1:] in _SIZE_SHIFT:
        return int(s[:-1]) << _SIZE_SHIFT[s[-1]]
    return int(s)


def get_spark(app_name: str = "medcat-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER",
                                      f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    tune_allocator()
    # glibc arena tuning inherited by the Python UDF workers: large
    # numpy buffers (Arrow batches, pooled MLP tensors, annotate
    # intermediates) default to mmap'd allocations that are unmapped on
    # free, so EVERY batch re-faults its pages — ruinous on virtualized
    # hosts where first-touch faults are slow (measured 4-12 MB/s
    # episodes on this sandbox's hypervisor; see BENCH/host_health.jsonl).
    # Keeping frees in the heap (no trim, high mmap threshold) makes
    # per-batch buffers reuse already-faulted memory.
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS",
                                                max(32, cores)))
    b = (
        SparkSession.builder.appName(app_name).master(master)
        # AQE: runtime coalesce + skew-join splitting for hot-CUI aggs
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for createDataFrame/toPandas; the batch size is every
        # worker.kernel input batch: bigger batches amortize the kernels
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local mode: the driver JVM is the executor — size it for the
        # machine (cache + shuffle of wide intermediate joins)
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY",
                               _default_driver_memory()))
        .config("spark.local.dir", _default_local_dir())
        # Always use the sort-based shuffle writer (one spill file per
        # map task).  The bypass-merge writer opens R files + R
        # compressor streams PER MAP TASK; an M-map/R-reduce shuffle
        # pays M*R file creates, which measured 31 s of aggregate
        # shuffle-write time for a 20 MB / 128x128 shuffle on this
        # host's virtual disk (guide §2.2 small-block pathology).  At
        # production R (thousands) Spark is past the bypass threshold
        # anyway, so this makes small-R behaviour match the scale path:
        # measured 2.86 s -> 0.62 s on the same shuffle.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
