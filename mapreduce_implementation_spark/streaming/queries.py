"""Structured Streaming transformations — the reference pipeline and the
batch temporal operators, re-expressed as streams.

The reference is strictly batch (SURVEY.md §2c), so these are extension
capabilities: the SAME logical expressions as the batch queries
(plans/text_queries.py, plans/events_queries.py) applied to unbounded
input. Streaming wordcount IS the reference job with an unbounded
InputSplit.

Scale notes: stateful aggs (windowed counts, streaming wordcount) keep
state per key in the state store — bounded by |vocab| / |windows×types|,
with watermarks evicting expired windows. Shuffle behavior is identical
to batch (hash partition on the group key), but at the session's
non-adaptive width: one state store per ``spark.sql.shuffle.partitions``
partition, fixed for the life of the checkpoint (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_implementation_spark.functions.text import tokens


ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark) -> None:
    """Switch stateful streaming queries to the RocksDB state store.

    The default (HDFS-backed) provider keeps EVERY live state row in
    executor memory; at corpus-scale arrival rates that is the next
    scale ceiling after operator shape — dedup-within-watermark alone
    held 560k rows in memory at 2M events in the round-9 rehearsal
    (BASELINE.md), and live state grows with arrival_rate × watermark.
    RocksDB keeps the working set in memory and spills the rest to
    executor-local disk, with changelog files in the checkpoint for
    recovery. Call BEFORE ``.start()`` — the provider binds for the
    query's lifetime (a checkpoint created under one provider must not
    be restarted under another). Measured at 256× sf0.1 with the
    rehearsal's stateful operators: see the BASELINE.md round-10
    table (`scale_rehearsal.py --streaming --rocksdb`)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_STATE_STORE_PROVIDER,
    )


def streaming_wordcount(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """The reference WordCount over an unbounded text stream
    (/root/reference/Worker.cc:143-162 semantics, 'drop' Q1 policy).
    Use outputMode=complete|update — running counts are stateful."""
    return (
        stream.select(F.explode(tokens(text_col, mode="reference")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .count()
    )


def streaming_windowed_counts(
    events: DataFrame,
    width: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling windows with late-data handling: the
    streaming twin of plans/events_queries.events_tumbling_5min.
    Watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").cast("long").alias("bucket_start_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_dedup_exact(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming exact dedup: first arrival per normalized content hash
    survives (stateful ``dropDuplicates`` — the streaming twin of
    operators/dedup.exact_dedup). Emits the surviving hash per document
    in append mode.

    State = one entry per distinct hash, unbounded on an unbounded
    stream; in production give the stream an event-time column and use
    ``dropDuplicatesWithinWatermark`` so state ages out with the
    watermark (dups in real pipelines arrive close together)."""
    from mapreduce_implementation_spark.functions.textstats import content_hash

    return (
        stream.select(content_hash(text_col).alias("chash"))
        .dropDuplicates(["chash"])
    )


def streaming_dedup_within_watermark(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a hash's state only until
    the watermark passes it, so state size is watermark-window ×
    arrival rate instead of |all distinct hashes ever| — the production
    shape for unbounded streams (dups in real pipelines arrive close
    together). Duplicates farther apart than the watermark can BOTH
    survive; that is the documented trade."""
    from mapreduce_implementation_spark.functions.textstats import content_hash

    return (
        stream.select(content_hash(text_col).alias("chash"), F.col(ts_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["chash"])
        .select("chash")
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    lo: str,
    hi: str,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join bounded by an event-time interval: pairs with
    ``right_ts ∈ [left_ts + lo, left_ts + hi]`` on ``key``.

    Watermarks on BOTH sides let the engine evict join state: a left
    row can stop waiting once the right watermark passes
    ``left_ts + hi``, so state is bounded by (watermark + interval) ×
    arrival rate — the batch twin is operators/events.range_join.

    ``how`` extends to the OUTER stream-stream joins (``leftOuter`` /
    ``rightOuter`` / ``fullOuter``): the engine NULL-extends a
    preserved row only once the query-wide watermark (the MIN across
    both sources) proves no match can still arrive — i.e. outer
    results are delayed by up to watermark + interval, and rows still
    in state when a bounded drain terminates are NOT null-emitted
    (they are not lost — a restart with more data flushes them). The
    time-interval condition is what makes outer state evictable; an
    outer stream-stream join WITHOUT it would hold state forever."""
    allowed = ("inner", "leftOuter", "rightOuter", "fullOuter")
    if how not in allowed:
        raise ValueError(
            f"stream-stream interval join supports {allowed}, got {how!r}"
        )
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND r.{right_ts} >= l.{left_ts} + interval {lo} "
        f"AND r.{right_ts} <= l.{left_ts} + interval {hi}"
    )
    return l.join(r, cond, how)


def streaming_enrich_static(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static dimension enrichment — the standard pattern for
    joining an unbounded fact stream against a (slowly-changing)
    dimension table: user → account, event → geo, doc → license.

    Semantics and scale notes:

    * the STATIC side is re-planned per micro-batch, so a file-backed
      dimension picks up newly-written files between batches — the
      cheap slowly-changing-dim refresh (swap the dim by atomically
      replacing its directory/table);
    * ``broadcast_dim=True`` (default) pins the broadcast-hash plan:
      dimensions are MBs against an unbounded stream, and a shuffled
      join would re-shuffle every micro-batch. Disable only for a
      dimension too big to broadcast — then pre-bucket both sides;
    * ``how="left"`` keeps facts with no dimension row (NULL-extended)
      — dropping unmatched facts silently is the classic enrichment
      bug; use ``"inner"`` only when that is the declared filter.
      Stream-static supports inner/left with the STREAM on the left
      (right/full would need the unbounded side materialized);
    * stateless: no watermark required, nothing in the state store —
      unlike stream-stream joins the engine holds no join state.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"stream-static join supports inner|left (stream side "
            f"preserved), got {how!r}"
        )
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on, how)


def run_to_memory(df: DataFrame, name: str, output_mode: str = "complete"):
    """Start a memory-sink query (test/demo harness). Caller must
    processAllAvailable()/stop().

    CAUTION: for stateful queries with ProcessingTimeTimeout,
    ``processAllAvailable()`` never returns — the engine keeps
    scheduling "no new data but cleaning up state" batches forever.
    Use ``run_available_now`` or ``wait_for_input_rows`` instead."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def run_available_now(df: DataFrame, name: str, output_mode: str = "complete"):
    """Run a streaming query over all currently-available source data
    and TERMINATE (Trigger.AvailableNow) — the bounded-drain harness
    that is safe for every stateful operator, including
    ProcessingTimeTimeout ones. Returns the stopped query; results are
    in the memory table ``name``. The checkpoint is private to the call
    (the query cannot be resumed), so it is removed once the query
    ends, whether it finished or failed."""
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return q


def wait_for_input_rows(q, n: int, timeout_s: float = 120.0) -> None:
    """Block until the running query has consumed >= ``n`` source rows
    (summing numInputRows over completed batches) and the source is
    drained. The multi-micro-batch analog of processAllAvailable() that
    also works under ProcessingTimeTimeout (see run_to_memory)."""
    import time as _time

    seen: dict[int, int] = {}
    deadline = _time.monotonic() + timeout_s
    while _time.monotonic() < deadline:
        for p in q.recentProgress:
            seen[p["batchId"]] = p["numInputRows"]
        if sum(seen.values()) >= n and not q.status["isDataAvailable"]:
            return
        _time.sleep(0.2)
    raise TimeoutError(
        f"stream consumed {sum(seen.values())} rows, wanted {n} "
        f"within {timeout_s}s"
    )
