"""SparkSession builder tuned for the engine.

local[N] stands in for an N-executor cluster in this sandbox; the knobs that
matter at real scale (AQE, skew-join splitting, Arrow) are on here so the same
plan shape survives a 1000-executor deployment.

The driver heap (``spark.driver.memory``, the JVM's ``-Xmx``) defaults to half
of the host's physical memory, floored to whole GiB and at least ``1g``
(:func:`driver_memory`): the heap, the JVM's off-heap memory (Arrow, netty,
metaspace) and the Python Arrow workers must all fit in RAM together.  A heap
larger than RAM lets G1 grow the resident set past physical memory before it
feels any pressure, and the kernel's OOM killer then ends the JVM.  Set
``SPARK_DRIVER_MEM`` (e.g. ``SPARK_DRIVER_MEM=24g``) to override the default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """The ``spark.driver.memory`` that :func:`get_spark` applies:
    ``SPARK_DRIVER_MEM`` when set, else half of the host's physical memory,
    floored to whole GiB and at least ``1g``."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return os.environ.get("SPARK_DRIVER_MEM") or f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "distributed_spatial_index_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if shuffle_partitions is None:
        ncpu = os.cpu_count() or 8
        shuffle_partitions = int(cores) if str(cores).isdigit() else ncpu
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI off (Spark 4 defaults it on): the engine's kernels are
        # double arithmetic + bit math with explicit guards (the raycast
        # denominator guard, try_cast in the parsers), so ANSI's checked
        # operators only add per-row cost — measured best-of-3 at sf0.1:
        # raycast codegen join 3.46s -> 1.51s, range join 1.64s -> 1.28s.
        # Every oracle gate is value-exact under both modes (verified at
        # sf0.01, 50/50 MATCH).
        .config("spark.sql.ansi.enabled", "false")
        # Join strategy (guide §3.1): allow shuffled-hash join where the
        # per-partition build side fits, instead of always sort-merge — the
        # salted/shuffled range-join regime otherwise pays two full sorts
        # per run.  The AQE threshold is the PER-PARTITION build-map bound,
        # so it scales with partition sizing (100 MB-1 GB partitions at
        # deployment keep build maps bounded), not with this sandbox.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "128m"),
        )
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    # Streaming state at deployment scale: the default HDFS-backed store
    # keeps all state in executor memory; RocksDB spills to local disk and
    # is proven value-exact on our operators
    # (tests/test_streaming.py::test_streaming_parity_on_rocksdb_state_store).
    # Opt in per process: SPARK_GRAFT_STATE_STORE=rocksdb.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
