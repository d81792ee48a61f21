"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every default here is chosen to
also be the right call on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- Arrow transfer on (Pandas-UDF operators move data in columnar batches).
- Shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the static number mostly irrelevant.
- Local masters start Python workers from ``worker_daemon``, which skips
  the per-task re-read of unchanged zip archives (pyspark.zip) that
  ``importlib.invalidate_caches()`` forces on every task. Other masters
  keep Spark's daemon: a ``--py-files`` package joins ``sys.path`` only
  per task there, so a daemon inside it could not start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """16g where the host affords it, else ~half of detected RAM
    (floor 2g). Reads MemTotal from /proc/meminfo; non-Linux hosts
    without it just get the 16g default."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(16, int(total_gb // 2)))}g"
    except OSError:
        pass
    return "16g"


def get_spark(
    app_name: str = "meds_transforms_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # The cores-based shuffle-partition default is a LOCAL-master
    # heuristic only: on a real cluster it would cap every shuffle at
    # the submit host's core count (AQE coalescing only merges
    # DOWNWARD from the initial number, never raises it). Non-local
    # masters keep Spark's default unless the caller sets one.
    local = master.startswith("local")
    if shuffle_partitions is None and local:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Runtime bloom-filter join pruning: for selective joins (e.g.
        # decontamination's gram semi-join, index probes) the optimizer
        # injects a bloom filter built from the small side into the big
        # side's SCAN — rows that can't match never reach the shuffle.
        # The 100 TB analog of the manual "broadcast a filter first"
        # pattern, for free on every eligible join.
        # (semiJoinReduction runtime filters are deliberately NOT
        # enabled: measured on this Spark 4.1.2 build they stall even
        # trivial queries — the bloom-filter variant alone is safe.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Read INT64 TIMESTAMP(NANOS) parquet columns as long (epoch
        # nanos) instead of erroring; sources.testdata converts to µs
        # TimestampType at the boundary.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spill-merge must not itself OOM: UnsafeExternalSorter opens
        # one reader PER SPILL FILE when merging, and read-ahead gives
        # each reader 2 UNMANAGED heap buffers. A memory-starved stage
        # (16 concurrent tasks → 8 MB sorter pages → hundreds of spill
        # files each) then dies in java.lang.OutOfMemoryError while
        # OPENING its spill readers — the round-9 5M-doc winnow failure
        # signature on 16 GB cross-executor runs. Off, spill readers
        # use plain small streams: bounded memory at a modest
        # sequential-read cost exactly when survival beats throughput.
        .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
        .config("spark.ui.enabled", "false")
        # local[N] runs driver+executors in ONE JVM; N concurrent task
        # threads need headroom or full-GC pauses dominate tail latency.
        # Default is clamped to ~half of host RAM so small CI containers
        # (and tests that run a second JVM in a subprocess) don't
        # overcommit; SPARK_DRIVER_MEMORY stays the escape hatch.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
    )
    # NOT set: a local-only spark.sql.files.maxPartitionBytes override
    # (4 MB splits so 10-30 MB testdata files scan on all cores) was
    # A/B-measured in round 7 — 5 interleaved fresh-process passes on
    # the 6 scan-rooted headline queries: ccnet_e2e ~-1 s (its two
    # single-task 3 s checkpoint-materialization stages parallelize),
    # but the mapInArrow family pays ~+0.7 s (more scan tasks = more
    # Python workers to warm), everything else inside noise. No net
    # win, and it perturbs every measured plan — at real scale files
    # exceed 128 MB and the default splitting already parallelizes.
    if local:
        builder = builder.config(
            "spark.python.daemon.module", "meds_transforms_spark.worker_daemon"
        )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(int(shuffle_partitions))
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
