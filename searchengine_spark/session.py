"""SparkSession factory.

Defaults are sized from the host (local[cores], driver heap from free
memory) but every knob is the one you would also set on a 1000-executor
cluster:

- AQE on (runtime coalesce + skew-join splitting),
- shuffle partitions sized to parallelism (not the 200 default),
- Arrow enabled for every pandas-UDF crossing,
- UTC session timezone so results compare bit-for-bit against DuckDB oracles.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_pythonpath() -> None:
    """Make the package importable by forked Python workers (local mode).
    On a real cluster the equivalent is ``spark-submit --py-files pkg.zip``."""
    existing = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + existing if existing else "")
        )
    # One BLAS/OpenMP/Arrow thread per Python worker: Spark already owns the
    # core-level parallelism; nested thread pools (32 workers × 32 BLAS
    # threads) oversubscribe catastrophically — measured 3× whole-build
    # slowdown at local[32] before pinning.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "ARROW_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Pin glibc malloc in every Python worker (inherited via the JVM): by
    # default each batch-sized allocation is mmap'd and munmap'd, and at 32
    # workers the resulting page-fault + TLB-shootdown storm puts the build
    # at 60-75% SYS time — slower at 32 cores than at 8. Keeping large
    # buffers in the arena (high mmap/trim thresholds) removes the kernel
    # round-trips; arenas capped so 32 workers don't hoard address space.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(128 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(128 * 1024 * 1024))
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    # pyarrow's default jemalloc pool madvise-releases every batch, which
    # reintroduces the same storm on Arrow-heavy stages (segment encode) —
    # route Arrow through the (now pinned) system allocator instead.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


_PYFILE_SENT: set[str] = set()


def _default_driver_memory() -> str:
    """About 60% of the host's MemAvailable, in whole GiB, 1g-16g: the
    driver heap starts at its full size (-Xms below), so a fixed 16g fails
    to start the JVM on a host with less memory free."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{max(1, min(16, kb * 6 // 10 >> 20))}g"


def ship_package(spark: SparkSession) -> None:
    """Ship searchengine_spark to workers of an ALREADY-created session via
    ``addPyFile`` (the programmatic twin of --py-files). Needed when the
    session was built by an external harness before this package set
    PYTHONPATH. Idempotent per session."""
    key = spark.sparkContext.applicationId
    if key in _PYFILE_SENT:
        return
    tmpdir = tempfile.mkdtemp(prefix="sespark_pyfiles_")
    zip_base = os.path.join(tmpdir, "searchengine_spark")
    archive = shutil.make_archive(
        zip_base, "zip", root_dir=_REPO_ROOT, base_dir="searchengine_spark"
    )
    spark.sparkContext.addPyFile(archive)
    _PYFILE_SENT.add(key)


def get_spark(
    master: str | None = None,
    app_name: str = "searchengine_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``. On a real cluster the
    caller passes ``--master`` via spark-submit and this builder leaves it be.
    """
    _export_pythonpath()
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    elif master.startswith("local[") and master != "local[*]":
        try:
            cpus = int(master[len("local[") : -1])
        except ValueError:
            pass
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # publish stages on bandwidth-starved hosts are written-bytes-bound:
        # zstd cuts parquet bytes ~30% vs snappy for text/postings/segments
        # at equal wall time, trading spare high-core CPU for IO the box
        # can't add (A/B'd in BENCH.md "Parquet codec A/B")
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        .config("spark.driver.memory", driver_mem)
        # -Xms == -Xmx + AlwaysPreTouch: fault the whole heap in at session
        # startup (untimed) instead of per-stage — 32 task threads first-
        # touching fresh heap pages mid-build showed up as 60-90% SYS time
        # (page-fault + TLB-shootdown storm). THP-madvise the heap so the
        # kernel serves it with 2 MB pages (fewer faults, smaller TLB).
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+UseTransparentHugePages"
            + (" -XX:+AlwaysPreTouch" if os.environ.get("SPARK_PRETOUCH") else ""),
        )
        # Sandbox corpora are ~100 MB, so the default 128 MB split size packs
        # a whole table into 1-2 scan partitions and forces a content shuffle
        # to fan work out. 16 MB keeps scans >= core count here; at real
        # scale (files >> cores) the default is equivalent — this knob only
        # matters when total input < cores * 128 MB.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # The term-keyed index tables have N_BUCKETS (64) bucket=* dirs.
        # Past 32 dirs Spark lists them with a distributed job: ~0.7 s per
        # read of such a table on a 4-core host, against ~0.09 s listed on
        # the driver. (On an object store with slow per-directory listing
        # the job can win; lower this there.)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (used by the two-parallelism scaling bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
