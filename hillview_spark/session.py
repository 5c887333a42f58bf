"""SparkSession factory with scale-oriented defaults.

Defaults chosen for large clusters: AQE re-plans at runtime
(partition coalescing, skew-join splitting), Arrow for any
Python<->JVM transfer, and a generous broadcast threshold so
dimension tables (region/nation/supplier/part) never shuffle.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Confs fixed when the JVM boots: a session that getOrCreate() returns
# already running keeps the values it booted with, whatever this call
# asks for, so get_spark warns about each one that differs.
STATIC_CONFS = ("spark.sql.codegen.cache.maxEntries", "spark.driver.memory")

# Deployment profiles (r16, VERDICT-r15 #5): the scale-dependent
# settings whose local values would be wrong on a real cluster,
# promoted from OPTIMIZATION_r15 prose into code. Select with
# get_spark(profile="production") or SPARK_GRAFT_PROFILE=production.
# The default "local" profile adds nothing to the base confs of
# get_spark: a local session runs those alone, and a change to them
# changes every local session, the benchmarks' included.
PROFILES: dict[str, dict[str, str]] = {
    "local": {},
    "production": {
        # Measured r15 (tools/ab_aqe_r15.py, interleaved): respect
        # the advisory partition size instead of preserving
        # parallelism. At 100 TB every shuffle exceeds the target,
        # so coalescing only removes empty-task overhead; locally
        # the same setting collapses sub-64MB shuffles to ~1 task
        # (q16 0.958 -> 1.923 s) — which is why it is NOT default.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        # Post-shuffle partitions in the 100MB-1GB band (guide
        # §2.2/§9): fewer, larger reduce partitions as block count
        # grows quadratically with scale. 64MB default is a local-
        # latency choice.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
        # Large sequential scans on fast storage; fewer map tasks
        # feeding every shuffle (guide §6, §2.2).
        "spark.sql.files.maxPartitionBytes": "512m",
        # For anything the pipeline WRITES (bucket ingest, dedup
        # survivors): zstd is smaller than snappy at similar read
        # speed (guide §6).
        "spark.sql.parquet.compression.codec": "zstd",
        # The Arrow boundary (VERDICT-r15 #9): the MapInPandas/
        # MapInArrow operators carry 64-float embeddings (~0.5 KB/
        # row) and documents (~1-3 KB/row), so 10k rows/batch is
        # 5-30 MB — large enough to amortize one BLAS/pyarrow call
        # per batch, small enough that 16 concurrent tasks stay
        # bounded in worker memory. Pinned explicitly (it is also
        # the Spark default) so an upstream default change cannot
        # silently shift the production memory envelope; pipelines
        # adding LARGE BINARY payload columns should bound bytes
        # directly via spark.sql.execution.arrow.maxBytesPerBatch.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    },
}


def get_spark(
    app_name: str = "hillview-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    profile: str | None = None,
) -> SparkSession:
    profile = profile or os.environ.get("SPARK_GRAFT_PROFILE", "local")
    if profile not in PROFILES:
        raise ValueError(
            f"unknown deployment profile {profile!r}; "
            f"have {sorted(PROFILES)}"
        )
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        # Runtime re-planning: coalesce tiny post-shuffle partitions,
        # split skewed join partitions. Essential at 100 TB.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow-batched transfer for the few Pandas-UDF paths.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Dimension tables at TPC-H-ish shape stay well under this;
        # broadcast instead of shuffling the fact table.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # The threshold above is an ESTIMATE on the build input; the
        # built HashedRelation is ~5x larger on the driver heap. With
        # Spark's 1g default driver heap, a build side near the 64 MiB
        # line OOMs the broadcast (seen at a 10x local scale replica,
        # r9) — pair the threshold with a driver heap that can hold a
        # few built relations. Only effective when this session boots
        # the JVM (local mode / spark-submit defaults can override).
        "spark.driver.memory": "6g",
        # Generated classes kept compiled, JVM-wide. Spark's default of
        # 100 is smaller than one round of a working session: a batch
        # round of the benchmark generates ~155 classes, an explore
        # round 87 plus the classes of its new literals, and the test
        # suite hundreds. At 100 entries each round evicts the classes
        # the next one needs, and Janino and then the JIT compile them
        # all again. A static conf: it binds only when this call boots
        # the JVM (warned about below otherwise).
        "spark.sql.codegen.cache.maxEntries": "2000",
        # Read-side parallelism: default 128 MiB splits.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        # Some sources write TIMESTAMP(NANOS) parquet, which Spark's
        # timestamp type (micros) cannot hold; read as long and let
        # tables.load_table surface micros + raw-nanos columns.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    conf.update(PROFILES[profile])
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate silently IGNORES every config when a session already
    # exists (r11 session review). Most of the conf above is tuning,
    # but two keys are SEMANTIC — UTC pins the timestamp<->instant
    # mapping every oracle comparison assumes, and nanosAsLong is what
    # lets events.parquet load at all — so re-assert them on the
    # session we actually got (both are runtime-settable SQL confs;
    # a no-op when this call built the session).
    spark.conf.set(
        "spark.sql.session.timeZone", conf["spark.sql.session.timeZone"]
    )
    spark.conf.set(
        "spark.sql.legacy.parquet.nanosAsLong",
        conf["spark.sql.legacy.parquet.nanosAsLong"],
    )
    # Static confs cannot be re-asserted. Read them from the
    # SparkContext's conf, which holds what the JVM booted with: a
    # running session copies a non-SQL key such as spark.driver.memory
    # into its SQL conf without it taking effect.
    booted = spark.sparkContext.getConf()
    for key in STATIC_CONFS:
        running = booted.get(key, "Spark's default")
        if running != conf[key]:
            warnings.warn(
                f"{key}={conf[key]} was not applied: the running session "
                f"booted with {running}",
                stacklevel=2,
            )
    return spark
