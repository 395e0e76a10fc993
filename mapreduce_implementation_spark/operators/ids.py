"""Contiguous global row ids without a global sort.

``ROW_NUMBER() OVER (ORDER BY …)`` plans as a single-partition sort —
the one shape that cannot scale (every row through one task). The
scalable idiom assigns the same ids in three distributed steps:

1. range-partition on the order key (sampled bounds — an Exchange,
   not a sort) and sort WITHIN each partition;
2. count rows per partition (a P-row aggregate) and turn the counts
   into cumulative offsets with a window over those P rows;
3. broadcast-join the offsets back and add the within-partition
   ``row_number`` — every id is offset[partition] + local rank.

Correctness hinges on steps 2 and 3 seeing the SAME range bounds:
``repartitionByRange`` samples with a per-RDD-instance seed, so two
independent executions of the exchange may place boundary-adjacent
rows differently. Exchange reuse canNOT close this hole here —
column pruning gives the counts branch a narrower scan schema than
the data branch, so the two exchange subtrees are not
``sameResult`` and Spark plans two independent samplings (verified
empirically on the executed plan). The operator therefore pins the
partitioning with a ``localCheckpoint`` materialization barrier:
bounds are sampled once, per-partition row order is frozen, and both
consumers read the same blocks — the same contract RDD
``zipWithIndex`` documents (cache the parent when lineage is
nondeterministic). At 100 TB the data moves once through the range
exchange and is stored once in executor block storage; an id
assignment is a materialization point in any real pipeline (the next
step is writing the id'd corpus), so the barrier costs what the
pipeline was about to pay anyway.

The reference's per-reducer output files are 1-based and
partition-local (`Worker.cc:267-274`); this operator is the extension
to a GLOBAL contiguous numbering — what a training pipeline needs for
stable example ids — while keeping the same no-global-sort discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_implementation_spark.session import batch_shuffle_partitions


def assign_contiguous_ids(
    df: DataFrame,
    order_by: str | list[str],
    id_name: str = "row_id",
    num_partitions: int | None = None,
    *,
    barrier: str = "local",
) -> DataFrame:
    """Add ``id_name`` = 0-based dense rank of the row in the global
    ``order_by`` ordering. ``order_by`` must be a unique (composite)
    key — with duplicates the ids are still contiguous and unique but
    the order among equal keys is partition-dependent.
    ``num_partitions`` (the range-partition count) defaults to the
    session's batch shuffle width (session.batch_shuffle_partitions).

    ``barrier`` selects the materialization barrier durability
    (operators/barrier.py): ``"local"`` = executor block storage —
    cheapest, but NOT reliable storage (executor loss or
    memory-pressure eviction of a checkpointed block kills the job,
    and at corpus scale the blocks compete with shuffle/cache memory);
    ``"reliable"`` = write-through parquet — one extra ser/de round
    trip, survives executor loss. Results are identical under both
    (``_mid`` is materialized BEFORE the barrier, so partition ids and
    local ranks live in the data, not the physical layout; parity
    pytest-gated). A 100 TB run should use ``"reliable"`` — an id
    assignment is a materialization point anyway, so the write is one
    the pipeline was about to pay."""
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    if not cols:
        raise ValueError("order_by must name at least one column")
    p = num_partitions or batch_shuffle_partitions(df.sparkSession)
    key_cols: list[Column] = [F.col(c) for c in cols]
    # monotonically_increasing_id on the range-partitioned, locally
    # sorted frame encodes (partition_id << 33) | local_rank — the
    # local rank for free, with NO window (a window partitioned on
    # partition id would re-shuffle the whole dataset on _pid).
    from mapreduce_implementation_spark.operators.barrier import (
        materialization_barrier,
    )

    # materialization barrier: freeze the sampled range bounds and the
    # per-partition row order so the counts pass and the data pass
    # cannot diverge (module docstring). _mid is computed BEFORE the
    # barrier so the reliable (write-through) mode is layout-proof.
    with_mid = materialization_barrier(
        df.repartitionByRange(p, *key_cols)
        .sortWithinPartitions(*key_cols)
        .withColumn("_mid", F.monotonically_increasing_id()),
        mode=barrier,
    )
    pid = F.shiftrightunsigned("_mid", 33)
    local_rank = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))

    counts = with_mid.groupBy(pid.alias("_pid")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    # exclusive running sum in partition-id order — P rows total; the
    # single-partition window is over the COUNTS, never the data.
    # Missing (empty) pids contribute 0 and drop out naturally.
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w), F.lit(0)).alias("_off")
    )

    return (
        with_mid.withColumn("_pid", pid)
        .join(F.broadcast(offsets), "_pid")
        .withColumn(id_name, (F.col("_off") + local_rank).cast("long"))
        .drop("_pid", "_off", "_mid")
    )
