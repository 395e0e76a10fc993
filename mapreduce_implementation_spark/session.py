"""SparkSession factory with defaults tuned for both local tests and scale.

Local test profile: local[$SPARK_GRAFT_CPUS] (default 32). Shuffles get
two widths:

* Batch plans start from 32 partitions
  (``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) and AQE
  coalesces them at runtime to what the data needs.
* Non-adaptive plans use ``spark.sql.shuffle.partitions``, set to the
  session's core count (``defaultParallelism``). Structured Streaming
  plans its micro-batches without AQE, so every stateful operator runs
  exactly this many tasks per micro-batch, one state store each, and the
  count is frozen into the query's checkpoint. Each partition loads and
  commits its own store every batch, so a count above the core count
  only adds that per-batch overhead.
  (Batch work inside a ``foreachBatch`` handler is planned with AQE and
  takes the batch width.)

At cluster scale the same code runs unchanged — the defaults here are
all safe on a 1000-executor cluster:

* AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — the primary scale lever.
* Arrow on for any pandas-UDF path (vectorized Python transfer).
* Session timezone pinned to UTC so timestamp semantics are stable
  between Spark, parquet metadata, and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

BATCH_SHUFFLE_PARTITIONS = 32
_INITIAL_PARTITION_NUM = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def get_spark(
    app_name: str = "mapreduce-implementation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32) for the test
    environment; on a real cluster pass ``None`` and submit with
    ``spark-submit --master ...`` (an existing session is reused, and
    the SQL settings below, shuffle widths included, are applied to it).

    Shuffle widths: AQE batch plans start from
    ``BATCH_SHUFFLE_PARTITIONS`` and coalesce down at runtime, while
    ``spark.sql.shuffle.partitions`` — the width of every plan AQE does
    not touch, i.e. the stateful operators of streaming queries — is the
    session's core count, read from
    ``sparkContext.defaultParallelism`` once the context is up (on a
    cluster: the cores registered at that moment). Stateful plans cannot
    rely on AQE to shrink an oversized width: Structured Streaming
    disables AQE, and the width is written into the checkpoint's offset
    log, so a restarted query keeps the count it was first started with
    whatever the session says. ``shuffle_partitions`` (or
    ``$SPARK_GRAFT_SHUFFLE_PARTITIONS``) sets both widths to one count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    explicit = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(_INITIAL_PARTITION_NUM, str(explicit or BATCH_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Split small single-file scans across the cores: the default
        # 128 MiB split makes a ~50 MiB bench table a 1-task scan, which
        # serializes scan-stage expression work 32×. 8 MiB is a LOCAL
        # profile knob — on a real cluster the default is right (row
        # groups are plentiful and tiny splits would bloat scheduling),
        # so it's env-overridable.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # saveAsTable target (bucketed tables); keep it out of the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/mris-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        width = explicit or spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
    return spark


def batch_shuffle_partitions(spark: SparkSession) -> int:
    """The width AQE batch plans start their shuffles at (Spark's own
    ``SQLConf.numShufflePartitions`` rule): the AQE initial partition
    number when set, else ``spark.sql.shuffle.partitions``."""
    initial = spark.conf.get(_INITIAL_PARTITION_NUM, None)
    return int(initial or spark.conf.get("spark.sql.shuffle.partitions"))
