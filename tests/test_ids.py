"""Contiguous global row ids without a global sort
(operators/ids.assign_contiguous_ids)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.ids import (
    assign_contiguous_ids,
)


def test_ids_match_global_row_number(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    out = assign_contiguous_ids(orders, "o_orderkey").collect()
    n = len(out)
    by_id = sorted(out, key=lambda r: r.row_id)
    assert [r.row_id for r in by_id] == list(range(n))
    keys = [r.o_orderkey for r in by_id]
    assert keys == sorted(keys)
    # id'd frame keeps every payload column intact
    src = {(r.o_orderkey, r.o_custkey) for r in orders.collect()}
    assert {(r.o_orderkey, r.o_custkey) for r in out} == src


def test_ids_contiguous_under_duplicate_keys_and_skew(spark):
    # 10k rows, 90% sharing ONE key: range partitioning puts the hot
    # key in few partitions, yet ids stay a permutation of 0..n-1 and
    # non-decreasing in key order
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    out = assign_contiguous_ids(df, "k", id_name="rid").collect()
    ids = sorted(r.rid for r in out)
    assert ids == list(range(10_000))
    by_id = sorted(out, key=lambda r: r.rid)
    ks = [r.k for r in by_id]
    assert ks == sorted(ks)


def test_ids_composite_key_deterministic(spark):
    df = spark.range(5_000).select(
        (F.col("id") % 50).alias("a"), (F.col("id") % 97).alias("b"),
        F.col("id").alias("u"),
    )
    # (a, b, u) is unique -> the assignment is a pure function of the
    # data; two independent runs agree row for row
    r1 = {(r.u, r.row_id) for r in
          assign_contiguous_ids(df, ["a", "b", "u"]).collect()}
    r2 = {(r.u, r.row_id) for r in
          assign_contiguous_ids(df, ["a", "b", "u"]).collect()}
    assert r1 == r2


def test_ids_plan_has_no_global_sort_or_data_reshuffle(spark):
    """The post-barrier plan must not globally sort or re-shuffle the
    data: the only exchanges are the P-row counts aggregation, its
    single-partition offsets window, and the offsets broadcast."""
    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select("o_orderkey")
    out = assign_contiguous_ids(orders, "o_orderkey")
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Sort \[[^\]]*\], true,", plan), plan
    # full-data moves happen before the checkpoint barrier; after it
    # the only hash exchange carries the per-partition counts
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 0, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1, plan


def test_ids_rejects_empty_order_by(spark):
    with pytest.raises(ValueError, match="order_by"):
        assign_contiguous_ids(spark.range(1), [])


def test_ids_reliable_barrier_parity(spark, sf_dir):
    """barrier='reliable' (write-through parquet; survives executor
    loss, no block-storage memory pressure) assigns the same ids as the
    default local barrier: _mid is materialized before the barrier, so
    the read-back layout cannot change partition ids or local ranks."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    local = assign_contiguous_ids(orders, "o_orderkey")
    reliable = assign_contiguous_ids(
        orders, "o_orderkey", barrier="reliable"
    )
    got_l = {(r.o_orderkey, r.row_id) for r in local.collect()}
    got_r = {(r.o_orderkey, r.row_id) for r in reliable.collect()}
    assert got_l == got_r and got_l


def test_ids_unknown_barrier_raises(spark):
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="barrier mode"):
        assign_contiguous_ids(df, "k", barrier="flaky").collect()


def test_ids_range_partitions_follow_batch_width(spark):
    """The range-partition count defaults to the BATCH shuffle width
    (the AQE initial partition number), not the non-adaptive
    ``spark.sql.shuffle.partitions`` that sizes stateful streaming, so
    a session whose two widths differ keeps the batch id layout."""
    from mapreduce_implementation_spark.session import (
        batch_shuffle_partitions,
    )

    width = batch_shuffle_partitions(spark)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width // 2 + 1))
    try:
        out = assign_contiguous_ids(
            spark.range(2_000).select(F.col("id").alias("k")), "k"
        )
        assert out.rdd.getNumPartitions() == width
        assert sorted(r.row_id for r in out.collect()) == list(range(2_000))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
