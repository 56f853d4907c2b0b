"""SparkSession factory tuned for the extraction workload.

Scale design (local[32] sandbox stands in for a 1000-executor cluster):

* AQE on — runtime coalescing of shuffle partitions, skew-join
  splitting.  At 100 TB the media stage is the skew hazard (media-heavy
  documents), so ``spark.sql.adaptive.skewJoin`` stays enabled and the
  extract plan additionally salts media-heavy docs explicitly.
* Arrow on — every Python-side kernel is an Arrow-batched pandas UDF;
  ``maxRecordsPerBatch`` is kept small for the media stage because each
  record can carry a multi-megapixel decoded page.
* ``spark.sql.shuffle.partitions`` defaults to the local core count;
  a real cluster run would set it to ~2-3x total executor cores and let
  AQE coalesce.
* ``spark.driver.memory`` defaults to a share of the machine's physical
  memory (``SPARK_DRIVER_MEM`` overrides it), never a fixed size that
  may exceed it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size for media-carrying stages. Sandbox fixture pages
# are ~25 KB so 256 rows/batch ≈ 6 MB; production 5 MP pages would
# tune this down (batch bytes ≈ rows x page size must fit worker
# memory). Bigger batches amortize the per-batch Python/Arrow cost,
# which measurably dominates at small batch sizes.
MEDIA_ARROW_BATCH = 256

# Default driver heap: a share of physical memory, so the JVM, its
# off-heap memory, the Python workers and the OS all fit (the test
# session, 8 Python workers included, peaked at 10 GB over its idle
# level with a 60% heap on a 16 GB box); capped at the fixed 32g
# default of the 32-core boxes this was first tuned on.
DRIVER_MEM_FRACTION = 0.5
DRIVER_MEM_CAP_MB = 32 * 1024


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset:
    half of physical memory (on Linux ``SC_PHYS_PAGES`` pages are
    exactly ``MemTotal``), capped at 32g. A heap above physical memory
    lets the JVM grow until the kernel OOM-kills it, and the session
    dies with it."""
    phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(int(phys_bytes * DRIVER_MEM_FRACTION) // 2**20, DRIVER_MEM_CAP_MB)}m"


def get_spark(
    app_name: str = "pero_ocr_api_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` uses ``SPARK_GRAFT_CPUS`` (driver contract) or all
    local cores. On a real cluster the master/deploy settings come from
    spark-submit; everything here is master-agnostic tuning.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Shuffle/spill dir: the sandbox root fs has very high syscall
    # latency; tmpfs measurably removes a data-proportional tax on
    # every shuffle. A real cluster would point this at local NVMe.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark_local"

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(MEDIA_ARROW_BATCH),
        )
        # Floor on scan parallelism (guide §6): a single just-under-
        # maxPartitionBytes parquet file otherwise scans as ONE task
        # and serializes every downstream operator of that branch
        # (measured: the 126 MB lineitem file made usage_statistics
        # 2-3x slower). Derived from the session's core count — on a
        # real cluster this is the executor-core total, so the floor
        # stays scale-adaptive rather than a local constant; scans of
        # many-file tables are unaffected (the floor only splits when
        # the natural split count is lower).
        .config("spark.sql.files.minPartitionNum", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    # drop any extraction caches tracked against the dying session —
    # their DataFrame handles would be unusable afterwards and must
    # not linger in the registry for a later release_run() to trip on
    from pero_ocr_api_spark.plans import extract as _extract

    _extract._PERSISTED.clear()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
