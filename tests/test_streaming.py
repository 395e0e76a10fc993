"""Structured Streaming tests: file-source micro-batches → memory sink,
cross-checked against the batch twins."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_spark.plans import all_queries
from mapreduce_implementation_spark.streaming.queries import (
    run_to_memory,
    streaming_windowed_counts,
    streaming_wordcount,
    wait_for_input_rows,
)
from mapreduce_implementation_spark.streaming.sessionize import sessionize_stream
from mapreduce_implementation_spark.streaming.sources import (
    EVENTS_RAW_SCHEMA,
    read_documents_stream,
    read_events_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    return str(d)


def _feed(src_parquet: str, dest_dir: str, name: str) -> None:
    shutil.copy(src_parquet, os.path.join(dest_dir, name))


def _write_events_batch(path, rows) -> None:
    """rows: (event_id, ts_seconds, user_id)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] * 1_000_000_000 for r in rows], pa.timestamp("ns")
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["x"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        path,
    )


def test_streaming_wordcount_matches_batch(spark, stream_dir):
    _feed(f"{SF}/documents.parquet", stream_dir, "b0.parquet")
    q = run_to_memory(
        streaming_wordcount(read_documents_stream(spark, stream_dir)), "wc_stream"
    )
    try:
        q.processAllAvailable()
        got = {r.word: r["count"] for r in spark.table("wc_stream").collect()}
    finally:
        q.stop()
    batch = {
        r.word: r.cnt for r in all_queries()["wordcount"].fn(spark, SF).collect()
    }
    assert got == batch


def test_streaming_windowed_counts_incremental(spark, stream_dir):
    # Feed BEFORE starting so read_events_stream sniffs the real file's
    # encoding (whatever the generator wrote) instead of assuming one.
    _feed(f"{SF}/events.parquet", stream_dir, "b0.parquet")
    q = run_to_memory(
        streaming_windowed_counts(read_events_stream(spark, stream_dir)),
        "win_stream",
    )
    try:
        q.processAllAvailable()
        rows = spark.table("win_stream").collect()
    finally:
        q.stop()
    batch = {
        (r.bucket_start_s, r.event_type): r.n_events
        for r in all_queries()["events_tumbling_5min"].fn(spark, SF).collect()
    }
    got = {(r.bucket_start_s, r.event_type): r.n_events for r in rows}
    assert got == batch


def test_sessionize_stream_two_batches(spark, stream_dir, tmp_path):
    # two micro-batches of hand-made events for user 1:
    #   batch 0: t=0, t=100        (same session)
    #   batch 1: t=5000            (gap > 1800 → closes first session)
    write_batch = _write_events_batch

    q = run_to_memory(
        sessionize_stream(read_events_stream(spark, stream_dir, schema=EVENTS_RAW_SCHEMA), gap_s=1800),
        "sess_stream",
        output_mode="append",
    )
    try:
        # processAllAvailable() hangs for ProcessingTimeTimeout queries
        # (endless state-cleanup batches) — wait on consumed-row counts.
        write_batch(tmp_path / "b0.parquet", [(1, 1_000_000, 1), (2, 1_000_100, 1)])
        _feed(str(tmp_path / "b0.parquet"), stream_dir, "b0.parquet")
        wait_for_input_rows(q, 2)
        assert spark.table("sess_stream").count() == 0  # session still open
        write_batch(tmp_path / "b1.parquet", [(3, 1_005_000, 1)])
        _feed(str(tmp_path / "b1.parquet"), stream_dir, "b1.parquet")
        wait_for_input_rows(q, 3)
        rows = spark.table("sess_stream").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    r = rows[0]
    assert (r.user_id, r.session_start_s, r.session_end_s, r.n_events) == (
        1,
        1_000_000,
        1_000_100,
        2,
    )


def test_sessionize_stream_late_events_cross_batch(spark, stream_dir, tmp_path):
    """Cross-batch late events follow batch semantics: one within the
    gap of the open session extends it backwards; one older than
    start - gap becomes its OWN closed session (not folded in)."""
    q = run_to_memory(
        sessionize_stream(read_events_stream(spark, stream_dir, schema=EVENTS_RAW_SCHEMA), gap_s=1800),
        "sess_late_stream",
        output_mode="append",
    )
    try:
        _write_events_batch(
            tmp_path / "b0.parquet", [(1, 1_010_000, 1), (2, 1_010_100, 1)]
        )
        _feed(str(tmp_path / "b0.parquet"), stream_dir, "b0.parquet")
        wait_for_input_rows(q, 2)
        assert spark.table("sess_late_stream").count() == 0  # open
        # batch 1: t=1_009_000 is within gap of start (extends it);
        # t=1_000_000 is > gap older than the extended start → its own
        # session, emitted closed because the open session follows it.
        _write_events_batch(
            tmp_path / "b1.parquet", [(3, 1_000_000, 1), (4, 1_009_000, 1)]
        )
        _feed(str(tmp_path / "b1.parquet"), stream_dir, "b1.parquet")
        wait_for_input_rows(q, 4)
        closed = spark.table("sess_late_stream").collect()
        # close the extended session with a far-future event
        _write_events_batch(tmp_path / "b2.parquet", [(5, 2_000_000, 1)])
        _feed(str(tmp_path / "b2.parquet"), stream_dir, "b2.parquet")
        wait_for_input_rows(q, 5)
        all_closed = spark.table("sess_late_stream").collect()
    finally:
        q.stop()
    assert [
        (r.session_start_s, r.session_end_s, r.n_events) for r in closed
    ] == [(1_000_000, 1_000_000, 1)]
    assert sorted(
        (r.session_start_s, r.session_end_s, r.n_events) for r in all_closed
    ) == [(1_000_000, 1_000_000, 1), (1_009_000, 1_010_100, 3)]


def test_sessionize_stream_timeout_flushes_open_session(spark, stream_dir, tmp_path):
    """The ProcessingTimeTimeout path: an open session with no further
    events is flushed by state timeout once a later micro-batch gives
    the engine a chance to fire it."""
    import time

    q = run_to_memory(
        sessionize_stream(read_events_stream(spark, stream_dir, schema=EVENTS_RAW_SCHEMA), gap_s=2),
        "sess_timeout_stream",
        output_mode="append",
    )
    try:
        _write_events_batch(tmp_path / "b0.parquet", [(1, 1_000_000, 7)])
        _feed(str(tmp_path / "b0.parquet"), stream_dir, "b0.parquet")
        wait_for_input_rows(q, 1)
        assert spark.table("sess_timeout_stream").count() == 0  # open
        time.sleep(3)  # exceed the 2s processing-time timeout
        # any subsequent batch lets timeouts fire (unrelated user)
        _write_events_batch(tmp_path / "b1.parquet", [(2, 9_000_000, 99)])
        _feed(str(tmp_path / "b1.parquet"), stream_dir, "b1.parquet")
        deadline = time.monotonic() + 60
        rows = []
        while time.monotonic() < deadline:
            rows = [
                r
                for r in spark.table("sess_timeout_stream").collect()
                if r.user_id == 7
            ]
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) == 1
    r = rows[0]
    assert (r.session_start_s, r.session_end_s, r.n_events) == (
        1_000_000,
        1_000_000,
        1,
    )


def test_sessionize_stream_event_time_flush(spark, stream_dir, tmp_path):
    """timeout_mode='event': the open tail flushes as soon as the
    WATERMARK (advanced by other users' data) proves the gap elapsed —
    no wall-clock involved, so a bounded AvailableNow-style drain sees
    it from data progress alone, and the state store empties."""
    q = run_to_memory(
        sessionize_stream(
            read_events_stream(spark, stream_dir, schema=EVENTS_RAW_SCHEMA),
            gap_s=1800,
            timeout_mode="event",
            watermark_delay_s=60,
        ),
        "sess_event_stream",
        output_mode="append",
    )
    try:
        # batch 0: user 1's two events (one open session)
        _write_events_batch(
            tmp_path / "e0.parquet", [(1, 1_000_000, 1), (2, 1_000_100, 1)]
        )
        _feed(str(tmp_path / "e0.parquet"), stream_dir, "e0.parquet")
        wait_for_input_rows(q, 2)
        assert spark.table("sess_event_stream").count() == 0  # still open
        # batch 1: user 99 far in the future — watermark jumps past
        # user 1's last_s + gap, so the EVENT timer fires (user 1 has
        # no new data; only the stream's own clock moved)
        _write_events_batch(tmp_path / "e1.parquet", [(3, 1_010_000, 99)])
        _feed(str(tmp_path / "e1.parquet"), stream_dir, "e1.parquet")
        wait_for_input_rows(q, 3)
        # the event timer fires in the batch AFTER the one that moved
        # the watermark (often a no-data batch) — poll for the flush
        import time as _time

        deadline = _time.time() + 60
        while (
            spark.table("sess_event_stream").count() == 0
            and _time.time() < deadline
        ):
            _time.sleep(0.5)
        rows = spark.table("sess_event_stream").collect()
        flushed = {
            (r.user_id, r.session_start_s, r.session_end_s, r.n_events)
            for r in rows
        }
        assert (1, 1_000_000, 1_000_100, 2) in flushed
        # final state: user 99's open tail only (user 1 was removed)
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        assert state_rows[-1] == 1, state_rows
    finally:
        q.stop()


def test_streaming_enrich_static_matches_batch(spark, stream_dir, tmp_path):
    """Stream-static broadcast enrichment: every streamed event picks
    up its dimension attributes; unmatched facts survive NULL-extended
    (left); output equals the batch join over the same data."""
    from mapreduce_implementation_spark.streaming.queries import (
        streaming_enrich_static,
    )

    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    _write_events_batch(
        tmp_path / "s0.parquet",
        [(1, 1_000_000, 1), (2, 1_000_010, 2), (3, 1_000_020, 7)],
    )
    _feed(str(tmp_path / "s0.parquet"), stream_dir, "s0.parquet")
    stream = read_events_stream(spark, stream_dir, schema=EVENTS_RAW_SCHEMA)
    q = run_to_memory(
        streaming_enrich_static(stream, dim, "user_id"),
        "enriched_stream",
        output_mode="append",
    )
    try:
        q.processAllAvailable()
        rows = {(r.event_id, r.tier) for r in spark.table("enriched_stream").collect()}
    finally:
        q.stop()
    assert rows == {(1, "gold"), (2, "silver"), (3, None)}

    with pytest.raises(ValueError, match="inner\\|left"):
        streaming_enrich_static(stream, dim, "user_id", how="right")


def test_rocksdb_state_store_runs_stateful_query(spark, stream_dir):
    """use_rocksdb_state_store: the bundled RocksDB provider accepts a
    stateful streaming agg and produces the same counts as the default
    provider — the 100 TB state-size knob is runnable, not just a
    documented string."""
    from mapreduce_implementation_spark.streaming.queries import (
        ROCKSDB_STATE_STORE_PROVIDER,
        use_rocksdb_state_store,
    )

    _feed(f"{SF}/documents.parquet", stream_dir, "b0.parquet")
    before = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    use_rocksdb_state_store(spark)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_STATE_STORE_PROVIDER
        )
        q = run_to_memory(
            streaming_wordcount(read_documents_stream(spark, stream_dir)),
            "wc_rocks",
        )
        try:
            q.processAllAvailable()
            got = {
                r.word: r["count"]
                for r in spark.table("wc_rocks").collect()
            }
        finally:
            q.stop()
    finally:
        if before is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", before
            )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from mapreduce_implementation_spark.functions.text import tokens as _toks

    want = {
        r.word: r.n
        for r in docs.select(
            F.explode(_toks("text", mode="reference")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got


def test_run_available_now_removes_its_checkpoint(spark, stream_dir, monkeypatch):
    """The drain's checkpoint is private to the call, so the drain
    deletes it once the query has ended; kept, every drain would leave
    one ``ckpt_*`` directory in the temp dir."""
    import tempfile

    from mapreduce_implementation_spark.streaming.queries import (
        run_available_now,
    )

    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    _feed(f"{SF}/documents.parquet", stream_dir, "b0.parquet")
    q = run_available_now(
        streaming_wordcount(read_documents_stream(spark, stream_dir)),
        "wc_ckpt_cleanup",
    )
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] > 0
    assert spark.table("wc_ckpt_cleanup").count() > 0
    ckpts = [d for d in made if os.path.basename(d).startswith("ckpt_")]
    assert len(ckpts) == 1, made
    assert not os.path.exists(ckpts[0])


def test_stateful_restart_keeps_checkpoint_shuffle_width(
    spark, stream_dir, tmp_path
):
    """A stateful checkpoint written at one ``spark.sql.shuffle.partitions``
    restarts under a session set to another: Spark reads the state
    width from the checkpoint's offset log, so the restarted query keeps
    the original count and its running counts stay exact. Checkpoints
    written before the session's default width changed rely on this."""
    ckpt = str(tmp_path / "ckpt")
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def drain(width: int):
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        q = (
            streaming_wordcount(read_documents_stream(spark, stream_dir))
            .writeStream.format("memory")
            .queryName("wc_restart_width")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    try:
        _feed(f"{SF}/documents.parquet", stream_dir, "b0.parquet")
        first = drain(3)
        _feed(f"{SF}/documents.parquet", stream_dir, "b1.parquet")
        second = drain(5)
        got = {
            r.word: r["count"]
            for r in spark.table("wc_restart_width").collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    for q in (first, second):
        assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 3
    batch = {
        r.word: r.cnt for r in all_queries()["wordcount"].fn(spark, SF).collect()
    }
    # the same documents arrived twice: every running count doubles
    assert got == {w: 2 * n for w, n in batch.items()} and got
