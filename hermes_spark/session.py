"""SparkSession factory tuned for the CDC engine.

Local sandbox runs on ``local[N]`` (single JVM); the same configuration
is what we would submit cluster-side via ``spark-submit --py-files`` —
only ``master`` and the memory sizing change. AQE is on so runtime
skew-join splitting and partition coalescing happen without manual
tuning; shuffle partitions default to the core count (not Spark's 200)
because every operator in this engine keys its shuffles explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "hermes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf.

    ``spark.sql.session.timeZone=UTC`` is load-bearing: event-time
    semantics (watermarks, windows) and oracle comparison against
    UTC-naive parquet timestamps both require it.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = SparkSession.builder.appName(app_name)
    if master != "inherit":  # "inherit": spark-submit --master decides
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled hash join over sort-merge when the per-
        # partition build side fits (guide §3.1): skips sorting both
        # sides of the join-mode classifier's batch-vs-state join
        # (streaming/cdc_join.py) and of the error-queue gating joins
        # (streaming/errorqueue.py).  Join strategy never changes
        # results; the AQE threshold caps the build-side partition at a
        # size safe for executors with multi-GB task memory — tune down
        # through extra_conf for memory-tight deployments.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet carries UTC-naive timestamps; read them as
        # TIMESTAMP (instant, session-TZ UTC) not TIMESTAMP_NTZ so
        # event-time ops (unix_micros, watermarks, windows) apply
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Stat the files of a scan on the driver, never in a Spark job:
        # above this many paths (default 32) Spark lists them with a
        # job of one task per path, and the streaming file source hands
        # every micro-batch's exact file list to that index, so a
        # 70-file trigger paid 0.39-0.57 s of getBatch for a listing
        # job against 15-43 ms for driver-side stats (4 vCPU, local
        # filesystem).  A deployment that streams thousands of
        # object-store files per trigger can lower it through extra_conf.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Streaming state store: RocksDB would be the cluster choice for
        # bounded-memory per-conv state; the provider class ships with Spark.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # commit only the per-batch changelog instead of full SST
        # snapshots — the difference between flat and linear scaling of
        # the stateful stage (maintenance thread compacts in background)
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
