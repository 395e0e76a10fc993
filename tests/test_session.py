"""Session shuffle widths (session.get_spark): with no explicit count,
non-adaptive plans — stateful streaming operators — run at the
session's core count, while AQE batch plans keep starting their
shuffles at BATCH_SHUFFLE_PARTITIONS.

The suite's ``spark`` fixture passes an explicit count (both widths 8),
which hides the default; this module builds its session in a separate
process instead."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 2

PROBE = r"""
import json, re, sys
from pyspark.sql import functions as F
from mapreduce_implementation_spark import get_spark
from mapreduce_implementation_spark.plans import all_queries
from mapreduce_implementation_spark.plans import streaming_queries as sq

spark = get_spark(app_name="width-probe")
spark.sparkContext.setLogLevel("ERROR")
n_words = all_queries()["streaming_wordcount"].fn(spark, sys.argv[1]).count()
state = [p["stateOperators"] for p in sq._LAST_PROGRESS if p["stateOperators"]]
agg = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
plan = agg._jdf.queryExecution().executedPlan().toString()
print(json.dumps({
    "default_parallelism": spark.sparkContext.defaultParallelism,
    "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    "state_partitions": [s[0]["numShufflePartitions"] for s in state],
    "n_words": n_words,
    "batch_exchange_widths": [
        int(w) for w in re.findall(r"Exchange hashpartitioning\(.*?, (\d+)\)", plan)
    ],
}))
spark.stop()
"""


def test_default_widths_stateful_at_cores_batch_at_aqe_initial(
    oracle_sf_dir, tmp_path
):
    from mapreduce_implementation_spark.session import (
        BATCH_SHUFFLE_PARTITIONS,
    )

    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_MASTER")
    }
    env.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", PROBE, oracle_sf_dir],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["default_parallelism"] == CORES
    assert got["shuffle_partitions"] == CORES
    # one state store per core, not one per batch partition
    assert got["state_partitions"] == [CORES], got
    assert got["n_words"] > 0
    # AQE batch plans still start from the batch width
    assert got["batch_exchange_widths"][:1] == [BATCH_SHUFFLE_PARTITIONS], got


def test_explicit_count_sets_both_widths(spark):
    """An explicit ``shuffle_partitions`` pins both the non-adaptive
    and the AQE initial width (get_spark reuses the running session and
    applies its widths to it, so the test restores them after)."""
    from mapreduce_implementation_spark import get_spark
    from mapreduce_implementation_spark.session import (
        _INITIAL_PARTITION_NUM,
        batch_shuffle_partitions,
    )

    keys = ("spark.sql.shuffle.partitions", _INITIAL_PARTITION_NUM)
    before = {k: spark.conf.get(k) for k in keys}
    try:
        s = get_spark(shuffle_partitions=5)
        assert s.conf.get("spark.sql.shuffle.partitions") == "5"
        assert batch_shuffle_partitions(s) == 5
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
