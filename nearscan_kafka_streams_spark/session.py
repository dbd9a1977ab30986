"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the configuration is chosen
so the same logical plans scale to a multi-executor cluster: AQE for
runtime re-planning (skew joins, coalesced shuffle partitions),
broadcast joins enabled for small dimensions, Arrow for the few
Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nearscan-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting;
        # essential at 100 TB where static partition counts are wrong
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for pandas UDF / toPandas paths
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # broadcast threshold: dimensions (region/nation/...) stay broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # timestamps in testdata are naive; pin session TZ for determinism
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long ns and convert explicitly (queries._t)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are tz-less timestamp[us]; Spark 4 would
        # infer TIMESTAMP_NTZ, which half the timestamp functions
        # (unix_micros, to_utc_timestamp, ...) reject -- read them as
        # plain TIMESTAMP under the pinned UTC session zone instead
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # RocksDB state store: the reference's dedup/join/KTable state is
        # RocksDB-backed (TokenBalance.java:87-89); Spark's provider
        # keeps large streaming state off-heap and incremental-checkpoints
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # commit each state version as a changelog of its row updates
        # instead of uploading a RocksDB snapshot per partition per
        # operator per trigger (snapshots still go out in the
        # background).  Interleaved live_stream A/B on 4 cores, 10
        # pairs (seeds 31-40): latency p50 median 14.6 -> 12.6 s, better
        # in 10 of 10, off-side IQR 1.6 s; state memory ~10x (memtables
        # live between commits).  Checkpoints written without it resume
        # with it on.
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # local[N] puts executor work in the driver JVM; 16g is sized
        # for test/tool sessions and respects small CI cgroups.  The
        # bench (49 queries + 10x stress in one JVM) needs more head --
        # bench.py raises this via extra_conf; SPARK_DRIVER_MEM
        # overrides everywhere
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Spark's default checkpoint manager goes through Hadoop's
        # FileContext, whose rename calls getFileLinkStatus, and on a
        # local disk that forks a `readlink` per file: ~3.6k forks per
        # 20 s live_stream run, about 4 per RocksDB snapshot file.  The
        # FileSystem manager renames without forking.  On file: paths
        # FileContext's rename-without-overwrite is itself
        # check-then-rename (RawLocalFs inherits renameInternal), so the
        # guarantee is the same there -- and only there: a local session
        # that checkpoints to hdfs:// or another store should set the
        # key back through extra_conf.  Cluster masters keep the
        # default (MIGRATION.md).
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    # scale/deployment-dependent settings stay parameterised (the
    # optimization-guide rule: local defaults keep the bench
    # comparable; a cluster run overrides via environment without a
    # code change).  Format: "key=value;key=value".
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for item in filter(None, (s.strip() for s in env_conf.split(";"))):
        k, _, v = item.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
