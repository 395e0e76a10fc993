"""Streaming queries under the correctness gate.

Each entry runs a REAL Structured Streaming pipeline (file source →
stateful transformation → memory sink), drains it with
``Trigger.AvailableNow`` (``run_available_now``: the query processes
everything the source holds, then terminates), and returns the sink
table as the result DataFrame. Because the whole sf table arrives as
one micro-batch, the results are deterministic and — for these
queries — EXACTLY match a batch twin, so they get full DuckDB oracles
rather than the weaker rows-only check:

* streaming wordcount (complete mode): running counts after one batch ≡
  batch wordcount (same tokens/filter as plans/text_queries.wordcount).
* streaming sessionize (append mode): ``applyInPandasWithState`` emits
  only CLOSED sessions; with everything in one batch, per user that is
  every session except the open tail — i.e. the batch sessionization
  minus each user's last session. That subset IS SQL-expressible.

In production the same DataFrame graphs run unbounded from Kafka; state
scale notes are in streaming/queries.py and streaming/sessionize.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_implementation_spark.plans.registry import register
from mapreduce_implementation_spark.streaming.queries import (
    run_available_now,
    streaming_dedup_exact,
    streaming_wordcount,
)
from mapreduce_implementation_spark.streaming.sessionize import sessionize_stream
from mapreduce_implementation_spark.streaming.sources import (
    read_documents_stream,
    read_events_stream,
)


# progress JSON of the most recent _drain — state-store metrics
# (numRowsDroppedByWatermark etc.) OBSERVED from the engine, so tests
# assert what the state store did, not what row counts imply
_LAST_PROGRESS: list = []


def _drain(
    spark: SparkSession, stream_df: DataFrame, output_mode: str
) -> DataFrame:
    """Run a streaming DataFrame to completion on its (bounded) file
    source (Trigger.AvailableNow — terminates even for
    ProcessingTimeTimeout stateful ops) and return the sink table."""
    name = f"stream_{uuid.uuid4().hex[:12]}"
    q = run_available_now(stream_df, name, output_mode=output_mode)
    _LAST_PROGRESS[:] = list(q.recentProgress)
    return spark.table(name)


@register(
    "streaming_wordcount",
    tables=("documents",),
    oracle="""
        SELECT word, COUNT(*) AS cnt
        FROM (
            SELECT UNNEST(string_split(text, ' ')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
)
def streaming_wordcount_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference WordCount as an unbounded stream, drained on the
    bounded testdata — running counts ≡ the batch result."""
    stream = read_documents_stream(spark, sf_dir, glob="documents.parquet")
    result = _drain(spark, streaming_wordcount(stream), "complete")
    return result.select("word", F.col("count").alias("cnt"))


@register(
    "streaming_sessionize",
    tables=("events",),
    oracle="""
        WITH t AS (
            SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ts_s FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, ts_s,
                   CASE WHEN lag(ts_s) OVER w IS NULL
                             OR ts_s - lag(ts_s) OVER w > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM t
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
        ),
        sessions AS (
            SELECT user_id, ts_s,
                   CAST(SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_idx
            FROM flagged
        ),
        agg AS (
            SELECT user_id, session_idx,
                   MIN(ts_s) AS session_start_s,
                   MAX(ts_s) AS session_end_s,
                   COUNT(*) AS n_events
            FROM sessions
            GROUP BY user_id, session_idx
        )
        SELECT user_id, session_start_s, session_end_s, n_events
        FROM agg
        QUALIFY session_idx < MAX(session_idx) OVER (PARTITION BY user_id)
    """,
)
def streaming_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via applyInPandasWithState (append
    mode): emits closed sessions only — with one micro-batch, all
    sessions except each user's open tail."""
    stream = read_events_stream(spark, sf_dir, glob="events.parquet")
    # use_timeout=False: bounded drain — see sessionize_stream docstring
    return _drain(
        spark, sessionize_stream(stream, gap_s=1800, use_timeout=False), "append"
    )


_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


@register(
    "streaming_dedup_exact",
    tables=("documents",),
    oracle=f"""
        SELECT DISTINCT md5(array_to_string({_TOKS}, ' ')) AS chash
        FROM documents
    """,
)
def streaming_dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dropDuplicates on the normalized content hash;
    drained on the bounded table the survivors are exactly the distinct
    hashes."""
    stream = read_documents_stream(spark, sf_dir, glob="documents.parquet")
    return _drain(spark, streaming_dedup_exact(stream), "append")


@register(
    "streaming_late_data_watermark",
    tables=("events",),
    oracle="""
        WITH e AS (SELECT event_id, epoch_ms(ts) // 1000 AS ts_s FROM events),
        m AS (SELECT MAX(ts_s) AS mx FROM e)
        SELECT (ts_s // 300) * 300 AS bucket_start_s, COUNT(*) AS n_events
        FROM e, m
        WHERE ts_s > mx - 3600 OR event_id % 10 <> 0
        GROUP BY 1, mx
        HAVING (ts_s // 300) * 300 + 300 <= mx - 60
    """,
)
def streaming_late_data_watermark_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time watermark PROVABLY dropping late data. The events
    table streams as three micro-batches (maxFilesPerTrigger=1):
    batch 1 = the newest hour (raises the watermark to max(ts) - 60s),
    batch 2 = 90% of the older events (aggregated and immediately
    finalized — their windows end far below the watermark), batch 3 =
    the withheld 10% (event_id % 10 == 0) of those SAME old windows.
    Spark's late-row filter uses the watermark established by the
    prior batches (measured: the filter lags eviction by one batch —
    rows below it for already-evicted windows are discarded,
    numRowsDroppedByWatermark > 0), so every batch-3 row is dropped.
    The oracle counts only batch-1/2 rows per window, capped at
    windows the final watermark closed: if the late rows leaked in,
    every old window's count would be ~11% high and the value-hash
    would fail."""
    import shutil

    from mapreduce_implementation_spark.streaming.fixtures import (
        stage_late_events_stream,
    )

    stream_dir = stage_late_events_stream(spark, sf_dir)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    counted = (
        stream.withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "300 seconds"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("bucket_start_s"),
            "n_events",
        )
    )
    try:
        result = _drain(spark, counted, "append")
        # materialize out of the memory sink before the source files go
        result = result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
    return result


@register(
    "streaming_interval_join_click_purchase",
    tables=("events",),
    oracle="""
        SELECT l.event_id,
               r.ts_s AS purchase_ts_s,
               r.value AS purchase_value
        FROM (SELECT event_id, user_id, epoch_ms(ts) // 1000 AS ts_s
              FROM events WHERE event_type = 'click') l
        JOIN (SELECT user_id, epoch_ms(ts) // 1000 AS ts_s, value
              FROM events WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id
         AND r.ts_s >= l.ts_s AND r.ts_s <= l.ts_s + 300
    """,
)
def streaming_interval_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join with watermarks on both sides:
    purchases within 5 minutes after each click, emitted as matches
    arrive. Timestamps are floored to whole seconds (cast long → cast
    timestamp) BEFORE the join so the interval arithmetic matches the
    second-resolution oracle exactly."""
    from mapreduce_implementation_spark.streaming.queries import (
        streaming_interval_join,
    )

    def side(event_type: str, cols):
        s = read_events_stream(spark, sf_dir, glob="events.parquet")
        return (
            s.where(F.col("event_type") == event_type)
            .withColumn("ts_f", F.col("ts").cast("long").cast("timestamp"))
            .select(*cols)
        )

    clicks = side("click", ["event_id", "user_id", "ts_f"])
    purchases = side(
        "purchase", ["user_id", F.col("ts_f").alias("p_ts"), "value"]
    )
    joined = streaming_interval_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts_f",
        right_ts="p_ts",
        lo="0 seconds",
        hi="5 minutes",
    )
    out = joined.select(
        F.col("l.event_id").alias("event_id"),
        F.col("r.p_ts").cast("long").alias("purchase_ts_s"),
        F.col("r.value").alias("purchase_value"),
    )
    return _drain(spark, out, "append")
