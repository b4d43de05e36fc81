"""Structured Streaming tests: the same window plans that are
oracle-checked in batch (operators.windows_time) must produce identical
results under real streaming execution with multi-batch state, plus the
streaming-only operators (watermark late-data drop,
dropDuplicatesWithinWatermark)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from reindexer_spark.streaming import run_stream_to_memory, stream_events

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _mk_files(spark, tmp_path, batches):
    """Write each batch of (event_id, minutes_offset, user_id, type, value)
    as its own parquet file so maxFilesPerTrigger=1 yields one
    micro-batch per file, in filename order."""
    root = tmp_path / "stream_src"
    root.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [
                (eid, BASE + dt.timedelta(minutes=m), uid, typ, val)
                for (eid, m, uid, typ, val) in rows
            ],
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
        )
        df.coalesce(1).write.parquet(str(root / f"batch_{i:03d}.parquet"))
    return str(root)


def _read_stream(spark, root):
    return (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/batch_*.parquet")
    )


def test_stream_tumbling_matches_batch(spark, tmp_path):
    batches = [
        [(1, 0, 1, "click", 1.0), (2, 5, 1, "view", 2.0)],
        [(3, 12, 2, "click", 3.0), (4, 25, 1, "click", 4.0)],
        [(5, 41, 2, "view", 5.0), (6, 55, 3, "click", 6.0)],
    ]
    root = _mk_files(spark, tmp_path, batches)
    agg = lambda df: (  # noqa: E731
        df.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total")
    )
    stream_out = run_stream_to_memory(agg(_read_stream(spark, root)))
    batch_out = agg(spark.read.parquet(f"{root}/batch_*.parquet"))
    assert sorted(map(tuple, stream_out.collect())) == sorted(
        map(tuple, batch_out.collect())
    )


def test_stream_session_matches_batch(spark, tmp_path):
    batches = [
        [(1, 0, 1, "c", 1.0), (2, 10, 1, "c", 1.0)],
        [(3, 100, 1, "c", 1.0), (4, 105, 2, "c", 1.0)],
        [(5, 300, 1, "c", 1.0), (6, 111, 2, "c", 1.0)],
    ]
    root = _mk_files(spark, tmp_path, batches)
    agg = lambda df: (  # noqa: E731
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("ws"), "n")
    )
    stream_out = run_stream_to_memory(agg(_read_stream(spark, root)))
    batch_out = agg(spark.read.parquet(f"{root}/batch_*.parquet"))
    assert sorted(map(tuple, stream_out.collect())) == sorted(
        map(tuple, batch_out.collect())
    )
    # user 1: events at 0,10 (one session) and 100,300 (two more)
    assert stream_out.filter(F.col("user_id") == 1).count() == 3


def test_stream_dedup_within_watermark(spark, tmp_path):
    """The same event id arriving in two micro-batches within the
    watermark window must survive exactly once (stateful dedup across
    batches — the streaming analogue of dropDuplicates)."""
    batches = [
        [(1, 0, 1, "c", 1.0), (2, 1, 1, "c", 1.0)],
        [(1, 0, 1, "c", 1.0), (3, 2, 1, "c", 1.0)],  # id=1 replayed
        [(4, 3, 1, "c", 1.0), (2, 1, 1, "c", 1.0)],  # id=2 replayed
    ]
    root = _mk_files(spark, tmp_path, batches)
    deduped = (
        _read_stream(spark, root)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = run_stream_to_memory(deduped, output_mode="append")
    assert sorted(r.event_id for r in out.collect()) == [1, 2, 3, 4]


def test_stream_watermark_drops_late_data(spark, tmp_path):
    """An event arriving after the watermark has passed its window is
    dropped from an append-mode windowed aggregation."""
    batches = [
        [(1, 0, 1, "c", 1.0), (2, 9, 1, "c", 1.0)],      # window [0,10)
        [(3, 120, 1, "c", 1.0)],                          # advances event time to 120
        [(6, 121, 1, "c", 1.0)],                          # watermark (=110) now in force
        [(4, 1, 1, "c", 100.0), (5, 122, 1, "c", 1.0)],   # id=4 is ~2h late → dropped
    ]
    root = _mk_files(spark, tmp_path, batches)
    agg = (
        _read_stream(spark, root)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("ws"), "n", "total")
    )
    out = run_stream_to_memory(agg, output_mode="append")
    rows = {r.ws: (r.n, r.total) for r in out.collect()}
    first_window = BASE
    # the late event (value=100.0) must NOT appear in the first window
    assert rows[first_window] == (2, 2.0)


def test_stream_events_source_matches_batch_count(spark, sf_dir):
    out = run_stream_to_memory(
        stream_events(spark, sf_dir).groupBy("event_type").count()
    )
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )
    assert out.agg(F.sum("count")).collect()[0][0] == batch.count()


def test_stateful_quota_alerts_across_batches(spark, tmp_path):
    """applyInPandasWithState: running totals must carry across
    micro-batches; alerts fire exactly when a threshold multiple is
    crossed, including mid-batch and multi-multiple jumps."""
    from reindexer_spark.streaming.stateful import quota_alerts

    batches = [
        # user 1 reaches 70; user 2 reaches 90 — no alerts yet
        [(1, 0, 1, "click", 70.0), (2, 1, 2, "view", 90.0)],
        # user 1: 70+40=110 → crosses 100; user 2: 90+5=95 → nothing
        [(3, 10, 1, "click", 40.0), (4, 11, 2, "view", 5.0)],
        # user 2: 95+210=305 → jumps two multiples (emit one alert at 300);
        # user 1: 110+95=205 → crosses 200
        [(5, 20, 2, "buy", 210.0), (6, 21, 1, "click", 95.0)],
    ]
    root = _mk_files(spark, tmp_path, batches)
    alerts = run_stream_to_memory(
        quota_alerts(_read_stream(spark, root), threshold=100.0),
        output_mode="append",
    )
    got = {
        (r.user_id, r.event_id): (r.total, r.crossed)
        for r in alerts.collect()
    }
    assert got == {
        (1, 3): (110.0, 100.0),
        (1, 6): (205.0, 200.0),
        (2, 5): (305.0, 300.0),
    }


def test_stateful_quota_alerts_no_state_no_alert(spark, tmp_path):
    """Keys that never cross the threshold emit nothing."""
    from reindexer_spark.streaming.stateful import quota_alerts

    batches = [[(1, 0, 7, "click", 10.0)], [(2, 5, 7, "view", 20.0)]]
    root = _mk_files(spark, tmp_path, batches)
    alerts = run_stream_to_memory(
        quota_alerts(_read_stream(spark, root), threshold=100.0),
        output_mode="append",
    )
    assert alerts.count() == 0


def test_stateful_quota_alerts_cents_across_batches(spark, tmp_path):
    """Integer-cents variant: totals carry across micro-batches and the
    emitted totals/crossings are exact decimal arithmetic."""
    from pyspark.sql import functions as F

    from reindexer_spark.streaming.stateful import quota_alerts_cents

    batches = [
        [(1, 0, 1, "click", 99.99)],
        # 99.99 + 0.01 = exactly 100.00 → crossing multiple 1
        [(2, 10, 1, "click", 0.01)],
        # jump across two multiples → single alert at the higher one
        [(3, 20, 1, "buy", 250.00)],
    ]
    root = _mk_files(spark, tmp_path, batches)
    stream = _read_stream(spark, root).withColumn(
        "v", F.col("value").cast("decimal(12,2)")
    )
    alerts = run_stream_to_memory(
        quota_alerts_cents(stream, threshold_cents=10_000),
        output_mode="append",
    )
    got = {
        (r.user_id, r.event_id): (r.total, r.crossed)
        for r in alerts.collect()
    }
    assert got == {(1, 2): (100.0, 100.0), (1, 3): (350.0, 300.0)}


def test_idempotent_sink_exactly_once_output(spark, tmp_path):
    """End-to-end through the foreachBatch parquet sink: per-batch
    directories, and the read-back equals the batch answer."""
    from reindexer_spark.streaming.sink import (
        IdempotentParquetSink,
        run_stream_to_parquet,
    )

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 10.0), (2, 5, 2, "view", 1.0)],
            [(3, 10, 1, "click", 20.0)],
            [(4, 15, 3, "error", 5.0)],
        ],
    )
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "ckpt")
    run_stream_to_parquet(_read_stream(spark, root), out, ckpt)
    sink = IdempotentParquetSink(out)
    got = sink.read_all(spark)
    assert got.count() == 4
    # one directory per micro-batch (maxFilesPerTrigger=1 → 3 batches)
    assert got.select("batch_id").distinct().count() == 3


def test_idempotent_sink_replay_does_not_duplicate(spark, tmp_path):
    """The at-least-once failure mode: the same (batchId, data) pair
    delivered twice must leave exactly one copy in the sink."""
    from reindexer_spark.streaming.sink import IdempotentParquetSink

    sink = IdempotentParquetSink(str(tmp_path / "sink_out"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "event_id bigint, payload string"
    )
    sink.write_batch(df, 7)
    sink.write_batch(df, 7)  # replay after simulated crash
    got = sink.read_all(spark)
    assert got.count() == 2
    assert got.select("batch_id").distinct().collect()[0][0] == 7


def test_stateful_rate_limit_counts_across_batches(spark, tmp_path):
    """Trailing-window counts must span micro-batch boundaries: user 1
    sends 2 events in batch 0 and a 3rd within the window in batch 1 —
    the 3rd event alone crosses the limit of 3."""
    from reindexer_spark.streaming import run_stream_to_memory
    from reindexer_spark.streaming.stateful import rate_limit_alerts

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 1.0), (2, 10, 1, "click", 1.0)],
            [(3, 20, 1, "click", 1.0), (4, 25, 2, "click", 1.0)],
        ],
    )
    alerts = rate_limit_alerts(
        _read_stream(spark, root),
        window_us=3_600_000_000,  # 1h window, all 3 events inside
        limit=3,
    )
    got = run_stream_to_memory(alerts, output_mode="append").collect()
    assert [(r.user_id, r.event_id, r.n_window) for r in got] == [(1, 3, 3)]


def test_stateful_rate_limit_state_evicts_old_batches(spark, tmp_path):
    """Events older than the window must leave state: the batch-1 event
    arrives 2h after batch 0's, so with a 1h window its count restarts
    at 1 and never alerts."""
    from reindexer_spark.streaming import run_stream_to_memory
    from reindexer_spark.streaming.stateful import rate_limit_alerts

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 1.0), (2, 5, 1, "click", 1.0)],
            [(3, 125, 1, "click", 1.0)],  # 2h05m later
        ],
    )
    alerts = rate_limit_alerts(
        _read_stream(spark, root), window_us=3_600_000_000, limit=2
    )
    got = run_stream_to_memory(alerts, output_mode="append").collect()
    # batch 0: second event reaches 2-in-window → alert; batch 1: state
    # evicted, count 1 → silent
    assert [(r.event_id, r.n_window) for r in got] == [(2, 2)]


def test_stateful_rate_limit_flags_late_batch(spark, tmp_path):
    """An out-of-order micro-batch (event time behind the per-user
    high-watermark) must be FLAGGED late with a null count — never
    silently undercounted against evicted state — while later on-time
    events still count the late event as a frame peer."""
    from reindexer_spark.streaming import run_stream_to_memory
    from reindexer_spark.streaming.stateful import rate_limit_alerts

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 1.0), (2, 10, 1, "click", 1.0)],
            [(3, 5, 1, "click", 1.0)],   # LATE: hw is minute 10
            [(4, 12, 1, "click", 1.0)],  # on-time; peers = all 4
        ],
    )
    alerts = rate_limit_alerts(
        _read_stream(spark, root),
        window_us=3_600_000_000,  # 1h window covers every event
        limit=4,
    )
    got = run_stream_to_memory(alerts, output_mode="append").collect()
    flagged = [(r.event_id, r.n_window, r.late) for r in got]
    # batch 1: event 3 flagged late, count withheld; batch 2: event 4
    # reaches the limit of 4 BECAUSE the late event entered state
    assert flagged == [(3, None, True), (4, 4, False)]


def test_stateful_rate_limit_on_time_rows_never_flagged(spark, tmp_path):
    """Monotone batches never produce late rows (hw semantics are
    strict '<', so timestamp ties with the watermark stay on-time)."""
    from reindexer_spark.streaming import run_stream_to_memory
    from reindexer_spark.streaming.stateful import rate_limit_alerts

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 1.0)],
            [(2, 0, 1, "click", 1.0)],  # ties the watermark: on-time
            [(3, 1, 1, "click", 1.0)],
        ],
    )
    alerts = rate_limit_alerts(
        _read_stream(spark, root), window_us=3_600_000_000, limit=2
    )
    got = run_stream_to_memory(alerts, output_mode="append").collect()
    assert [(r.event_id, r.n_window, r.late) for r in got] == [
        (2, 2, False),
        (3, 3, False),
    ]


def _run_checkpointed(streaming_df, out_dir: str, ckpt: str) -> None:
    """Run an append-mode stream into a parquet sink with a durable
    checkpoint, to completion, then fully stop it — the restartable
    analogue of run_stream_to_memory."""
    spark = streaming_df.sparkSession
    q = (
        streaming_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
        spark.streams.resetTerminated()


def _append_batch(spark, root: str, idx: int, rows) -> None:
    df = spark.createDataFrame(
        [
            (eid, BASE + dt.timedelta(minutes=m), uid, typ, val)
            for (eid, m, uid, typ, val) in rows
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
    )
    df.coalesce(1).write.parquet(f"{root}/batch_{idx:03d}.parquet")


def test_stateful_checkpoint_recovery_across_restart(spark, tmp_path):
    """Custom applyInPandasWithState state must survive a full
    stop/restart against the same checkpointLocation: the post-restart
    event alerts ONLY if the pre-restart running total was recovered
    (60 + 50 crosses 100; a fresh state would sit at 50), and the
    pre-restart file is not reprocessed (exactly one output row)."""
    from reindexer_spark.streaming.stateful import quota_alerts

    root = _mk_files(spark, tmp_path, [[(1, 0, 1, "c", 60.0)]])
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        _run_checkpointed(
            quota_alerts(_read_stream(spark, root), threshold=100.0),
            out_dir,
            ckpt,
        )

    run()  # batch 0: total 60, below threshold → no alert
    _append_batch(spark, root, 1, [(2, 10, 1, "c", 50.0)])
    run()  # restarted query: recovered total 60 + 50 = 110 → alert
    got = spark.read.parquet(out_dir).collect()
    assert [(r.user_id, r.event_id, r.total, r.crossed) for r in got] == [
        (1, 2, 110.0, 100.0)
    ]


def test_windowed_checkpoint_recovery_across_restart(spark, tmp_path):
    """Watermarked window state must survive restart: the [0,10) window
    absorbs two events before the stop, and finalizes (append-mode
    emission) only after post-restart batches advance the watermark —
    its count proves the pre-restart state was recovered, since the
    pre-restart files are never re-read (source offsets checkpointed)."""
    root = _mk_files(
        spark, tmp_path, [[(1, 0, 1, "c", 1.0), (2, 5, 1, "c", 1.0)]]
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def agg(df):
        return (
            df.withWatermark("ts", "1 second")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )

    def run():
        _run_checkpointed(agg(_read_stream(spark, root)), out_dir, ckpt)

    run()  # watermark 4:59 — window [0,10) still open, nothing emitted
    _append_batch(spark, root, 1, [(3, 30, 1, "c", 1.0)])
    _append_batch(spark, root, 2, [(4, 31, 1, "c", 1.0)])
    run()  # watermark passes 10:00 → [0,10) finalizes with BOTH events
    got = spark.read.parquet(out_dir).collect()
    assert [(r.ws, r.n) for r in got] == [(BASE, 2)]


def _mk_doc_files(spark, tmp_path, batches):
    """Write each batch of (doc_id, text) as its own parquet file."""
    root = tmp_path / "doc_stream_src"
    root.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id bigint, text string"
        ).coalesce(1).write.parquet(str(root / f"batch_{i:03d}.parquet"))
    return str(root)


def test_stateful_pack_greedy_carries_cursor_across_batches(spark, tmp_path):
    """The streaming packer's (seq_id, fill) cursor must carry across
    micro-batches: packing the same docs as one batch or as three
    batches (in the same per-shard arrival order) yields the same
    assignments, and equals a driver-side greedy replay."""
    import hashlib

    from reindexer_spark.operators.sampling import N_SHARDS, pack_tokens
    from reindexer_spark.streaming.stateful import pack_greedy_stream

    BUDGET = 10
    docs = [(i, " ".join(["w"] * (2 + i % 5))) for i in range(30)]
    batches = [docs[:10], docs[10:20], docs[20:]]
    root = _mk_doc_files(spark, tmp_path, batches)

    def read_stream():
        return (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/batch_*.parquet")
        )

    out = run_stream_to_memory(
        pack_greedy_stream(pack_tokens(read_stream()), budget=BUDGET),
        output_mode="append",
    )
    got = {r.doc_id: (r.shard, r.seq_id, r.fill_after) for r in out.collect()}
    assert len(got) == len(docs)

    # driver-side replay: same shard fn, same per-batch (h, doc_id)
    # order, one cursor per shard carried across batches
    def shard_of(doc_id):
        h4 = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
        return int(h4, 16) % N_SHARDS

    cursors = {}
    expect = {}
    for batch in batches:
        per_shard = {}
        for doc_id, text in batch:
            per_shard.setdefault(shard_of(doc_id), []).append(doc_id)
        for shard, ids in per_shard.items():
            ids.sort(
                key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
            )
            seq, fill = cursors.get(shard, (0, 0))
            for d in ids:
                n = 2 + d % 5
                if fill + n <= BUDGET:
                    fill += n
                else:
                    seq += 1
                    fill = n
                expect[d] = (shard, seq, fill)
            cursors[shard] = (seq, fill)
    assert got == expect


def test_stream_pack_greedy_single_batch_equals_batch_packer(spark, sf_dir):
    """With the whole table in one micro-batch (one parquet file), the
    streaming packer must reproduce corpus_pack_greedy exactly — the
    premise of its shared oracle."""
    from reindexer_spark import get_query

    stream_rows = sorted(
        map(
            tuple,
            get_query("stream_pack_greedy_live").fn(spark, sf_dir).collect(),
        )
    )
    batch_rows = sorted(
        map(tuple, get_query("corpus_pack_greedy").fn(spark, sf_dir).collect())
    )
    assert stream_rows == batch_rows


def test_pack_greedy_cursor_survives_restart(spark, tmp_path):
    """The streaming packer's per-shard cursor must survive a full
    stop/restart against the same checkpointLocation: post-restart docs
    continue filling the pre-restart sequence (fill_after proves the
    recovered cursor), and pre-restart files are not reprocessed."""
    from reindexer_spark.operators.sampling import pack_tokens
    from reindexer_spark.streaming.stateful import pack_greedy_stream

    # single-shard setup: find doc ids that hash into one shard so the
    # cursor interaction is deterministic and visible
    import hashlib

    from reindexer_spark.operators.sampling import N_SHARDS

    ids = [i for i in range(200) if int(
        hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % N_SHARDS == 0][:4]
    assert len(ids) == 4
    root = tmp_path / "docsrc"
    root.mkdir()

    def write(idx, batch_ids, n_words):
        spark.createDataFrame(
            [(i, " ".join(["w"] * n_words)) for i in batch_ids],
            "doc_id bigint, text string",
        ).coalesce(1).write.parquet(str(root / f"b{idx:03d}.parquet"))

    write(0, ids[:2], 4)  # two 4-token docs -> fill 8 of budget 10
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b*.parquet")
        )
        _run_checkpointed(
            pack_greedy_stream(pack_tokens(stream), budget=10),
            out_dir,
            ckpt,
        )

    run()
    write(1, ids[2:], 4)  # 8+4 > 10 -> new sequence; then 4+4=8 fits
    run()  # restarted query must resume from (seq 0, fill 8)
    got = {r.doc_id: (r.seq_id, r.fill_after)
           for r in spark.read.parquet(out_dir).collect()}
    first, second = sorted(ids[:2], key=lambda d: (
        hashlib.md5(str(d).encode()).hexdigest(), d)), sorted(
        ids[2:], key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
    assert got[first[0]] == (0, 4) and got[first[1]] == (0, 8)
    # recovered cursor (0, 8): next doc overflows into sequence 1
    assert got[second[0]] == (1, 4) and got[second[1]] == (1, 8)
    assert len(got) == 4  # pre-restart docs not reprocessed


def test_stateful_minhash_dedup_carries_bucket_state_across_batches(
    spark, tmp_path
):
    """The streaming LSH dedup's bucket-representative state must carry
    across micro-batches: duplicates of a batch-1 document arriving in
    batches 2 and 3 each pair against the ORIGINAL's doc_id, and the
    cap keeps later copies out of state (pairs always name the first
    `cap` arrivals as d1)."""
    from reindexer_spark.operators.windows_time import _rowwise_md5_bands
    from reindexer_spark.streaming.stateful import minhash_dedup_stream

    text_a = "alpha beta gamma delta epsilon zeta"
    text_b = "one two three four five six seven"
    # doc 0/10/20 share text_a; 1/11 share text_b; others unique noise
    def doc(i):
        if i % 10 == 0:
            return (i, text_a)
        if i % 10 == 1:
            return (i, text_b)
        return (i, f"unique{i} filler{i} tail{i} pad{i}")

    docs = [doc(i) for i in range(30)]
    batches = [docs[:10], docs[10:20], docs[20:]]
    root = _mk_doc_files(spark, tmp_path, batches)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/batch_*.parquet")
    )
    out = run_stream_to_memory(
        minhash_dedup_stream(_rowwise_md5_bands(stream), cap=1),
        output_mode="append",
    )
    pairs = {(r.d1, r.d2) for r in out.collect()}
    # identical texts share every band; cap=1 keeps only the FIRST
    # arrival as representative, so copies pair with it and never with
    # each other (20 pairs with 10, not with 0, would break this)
    assert (0, 10) in pairs and (0, 20) in pairs
    assert (1, 11) in pairs
    assert (10, 20) not in pairs  # 10 never entered state (cap=1)
    assert all(d1 in (0, 1) for d1, _ in pairs), pairs


def test_stateful_minhash_dedup_out_of_order_arrival_semantics(
    spark, tmp_path
):
    """Pin the documented cross-batch semantics (round-11, per review):
    bucket representatives are the first ``cap`` ARRIVALS, not the
    smallest doc_ids.  A duplicate arriving in a later batch with a
    SMALLER doc_id than a full bucket's resident emits no pair (the
    operator's d1 < d2 output contract cannot hold against a larger
    resident) and does not enter state — this is where the live lane
    deliberately diverges from the batch ROW_NUMBER-by-doc_id oracle,
    which would rank by id regardless of arrival.  With free capacity
    the late small id still joins state and pairs as d1 with later
    arrivals."""
    from reindexer_spark.operators.windows_time import _rowwise_md5_bands
    from reindexer_spark.streaming.stateful import minhash_dedup_stream

    text_a = "alpha beta gamma delta epsilon zeta"

    def run(batches, cap):
        base = tmp_path / f"cap{cap}"
        base.mkdir()
        root = _mk_doc_files(spark, base, batches)
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/batch_*.parquet")
        )
        out = run_stream_to_memory(
            minhash_dedup_stream(_rowwise_md5_bands(stream), cap=cap),
            output_mode="append",
        )
        return {(r.d1, r.d2) for r in out.collect()}

    # cap=1: doc 10 arrives first and fills the bucket; the later,
    # smaller doc 0 emits NOTHING (not (0, 10) — oracle would) and is
    # not admitted, so a third copy (20) still pairs only with 10.
    pairs = run([[(10, text_a)], [(0, text_a)], [(20, text_a)]], cap=1)
    assert (10, 20) in pairs
    assert all(d1 == 10 for d1, _ in pairs), pairs
    assert not any(0 in p for p in pairs), pairs

    # cap=2: the late small id is admitted into free capacity and then
    # pairs as d1 with later arrivals — first-arrival order, id-ordered
    # output within what the d1 < d2 contract allows.
    pairs = run([[(10, text_a)], [(0, text_a)], [(20, text_a)]], cap=2)
    assert (10, 20) in pairs and (0, 20) in pairs
    assert (0, 10) not in pairs and (10, 0) not in pairs


def test_stream_minhash_dedup_single_batch_equals_oracle_shape(spark, sf_dir):
    """With the whole table in one micro-batch, the live lane equals
    its DuckDB oracle (the premise the gate builds on)."""
    from reindexer_spark.oracle import compare_query

    assert compare_query(spark, "stream_minhash_dedup_live", sf_dir) == []


def test_stateful_dsir_select_carries_counters_across_batches(
    spark, tmp_path
):
    """The streaming DSIR selector's per-shard (seen, kept) counters
    must carry across micro-batches AND survive a full stop/restart
    against the same checkpointLocation: batch-2 docs continue the
    batch-1 counts (seen_so_far proves the recovered state), and
    pre-restart files are not reprocessed."""
    import hashlib

    from reindexer_spark.operators.sampling import N_SHARDS
    from reindexer_spark.streaming.stateful import dsir_select_stream

    # four doc ids landing in ONE shard so the counter chain is visible
    ids = [i for i in range(400) if int(
        hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % N_SHARDS == 3][:4]
    assert len(ids) == 4
    scores = {ids[0]: 10, ids[1]: 3, ids[2]: 7, ids[3]: 99}
    root = tmp_path / "scoredsrc"
    root.mkdir()

    def write(idx, batch_ids):
        spark.createDataFrame(
            [(i, 3, scores[i]) for i in batch_ids],
            "doc_id bigint, shard int, score bigint",
        ).coalesce(1).write.parquet(str(root / f"b{idx:03d}.parquet"))

    write(0, ids[:2])
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("doc_id bigint, shard int, score bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b*.parquet")
        )
        _run_checkpointed(dsir_select_stream(stream, 7), out_dir, ckpt)

    run()
    write(1, ids[2:])
    run()  # restart must resume from (seen=2, kept=1)
    got = {r.doc_id: (r.is_kept, r.seen_so_far, r.kept_so_far)
           for r in spark.read.parquet(out_dir).collect()}
    a, b = sorted(ids[:2])
    c, d = sorted(ids[2:])
    by_doc = {i: scores[i] >= 7 for i in ids}
    assert got[a] == (int(by_doc[a]), 1, int(by_doc[a]))
    assert got[b] == (int(by_doc[b]), 2, int(by_doc[a]) + int(by_doc[b]))
    k2 = int(by_doc[a]) + int(by_doc[b])
    assert got[c] == (int(by_doc[c]), 3, k2 + int(by_doc[c]))
    assert got[d] == (
        int(by_doc[d]), 4, k2 + int(by_doc[c]) + int(by_doc[d]))
    assert len(got) == 4  # pre-restart docs not reprocessed


def test_dsir_select_stream_none_threshold_keeps_nothing(spark, tmp_path):
    """threshold=None (an empty batch keep set) must drop every doc
    while still counting arrivals."""
    from reindexer_spark.streaming.stateful import dsir_select_stream

    root = tmp_path / "nonesrc"
    root.mkdir()
    spark.createDataFrame(
        [(1, 0, 100), (2, 0, 200)], "doc_id bigint, shard int, score bigint"
    ).coalesce(1).write.parquet(str(root / "b0.parquet"))
    stream = (
        spark.readStream.schema("doc_id bigint, shard int, score bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/b*.parquet")
    )
    _run_checkpointed(
        dsir_select_stream(stream, None),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    rows = sorted(
        spark.read.parquet(str(tmp_path / "out")).collect(),
        key=lambda r: r.doc_id,
    )
    assert [(r.is_kept, r.seen_so_far, r.kept_so_far) for r in rows] == [
        (0, 1, 0),
        (0, 2, 0),
    ]


def test_stateful_cdc_dedup_carries_fingerprints_across_batches(
    spark, tmp_path
):
    """The streaming chunk dedup's per-fingerprint state must carry
    across micro-batches: a chunk introduced in batch 1 marks every
    later arrival of the same content as a duplicate of the ORIGINAL
    document — including arrivals two batches later — while novel
    chunks stay is_new=1."""
    from reindexer_spark.operators.dedup import _cdc_chunks
    from reindexer_spark.streaming.stateful import cdc_dedup_stream
    from pyspark.sql import functions as F

    shared = "the quick brown fox jumps over the lazy dog " * 4
    def doc(i):
        if i % 10 == 0:
            return (i, shared)  # docs 0, 10, 20 share every chunk
        return (i, f"unique{i} body text for document number {i} " * 3)

    docs = [doc(i) for i in range(30)]
    batches = [docs[:10], docs[10:20], docs[20:]]
    root = _mk_doc_files(spark, tmp_path, batches)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/batch_*.parquet")
    )
    ex = stream.select(
        "doc_id",
        F.posexplode(_cdc_chunks(F.col("text"))).alias("idx", "chunk"),
    ).select(
        "doc_id", "idx", F.md5("chunk").alias("h"),
        F.length("chunk").alias("clen"),
    )
    out = run_stream_to_memory(
        cdc_dedup_stream(ex), output_mode="append"
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0 introduced every shared chunk (its text repeats a phrase,
    # so SOME of its own chunks are internal duplicates — still
    # attributed to doc 0)
    assert all(r.first_doc == 0 for r in by_doc[0])
    assert any(r.is_new == 1 for r in by_doc[0])
    # docs 10 and 20 (batches 2 and 3) are fully duplicate OF DOC 0
    for d in (10, 20):
        assert all(
            r.is_new == 0 and r.first_doc == 0 for r in by_doc[d]
        ), d
    # a unique doc's chunks are self-attributed and none predate it
    assert all(r.first_doc == 5 for r in by_doc[5])
    assert any(r.is_new == 1 for r in by_doc[5])
    # chunks tile: per-doc clen sums equal text lengths
    for i, text in docs:
        assert sum(r.clen for r in by_doc[i]) == len(text), i


# ---------------------------------------------------------------------------
# State-partition sizing policy (optimization r17)
# ---------------------------------------------------------------------------


def test_state_partition_policy_values():
    """state_partitions_for sizes stores from source volume: floor 8 at
    test scale (keeps r16's measured local value — bench comparable),
    ceil(bytes/1 GiB) in the middle, capped at 2048."""
    from reindexer_spark.streaming import runner

    assert runner.state_partitions_for(None) == 8
    assert runner.state_partitions_for(0) == 8
    assert runner.state_partitions_for(10 << 20) == 8  # local test scale
    assert runner.state_partitions_for(100 << 30) == 100  # 100 GiB ingest
    assert runner.state_partitions_for((100 << 30) + 1) == 101  # ceil
    assert runner.state_partitions_for(100 * 10**12) == 2048  # 100 TB: cap


def test_stream_sources_register_bytes_and_runner_consumes(spark, sf_dir):
    """The file-source constructors register their on-disk size for the
    sizing policy and run_stream_to_memory consumes (clears) it — one
    registration never leaks into the next stream."""
    import os

    from reindexer_spark.streaming import runner

    key = spark.sparkContext.applicationId
    runner._PENDING_SOURCE_BYTES.pop(key, None)
    ev = stream_events(spark, sf_dir)
    got = runner._PENDING_SOURCE_BYTES.get(key)
    assert got and got > 0
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(path):
        assert got == os.path.getsize(path)
    out = run_stream_to_memory(
        ev.groupBy("event_type").count(), output_mode="complete"
    )
    assert out.count() > 0
    # consumed: nothing pending for the next stream
    assert key not in runner._PENDING_SOURCE_BYTES


def test_registry_query_clears_unrun_source_bytes(spark, sf_dir):
    """A stream source built but never run must not size the next
    query's stream: every registered query starts with nothing pending
    for its application."""
    from reindexer_spark.registry import get_query
    from reindexer_spark.streaming import runner

    key = spark.sparkContext.applicationId
    stream_events(spark, sf_dir)  # built, never run
    assert runner._PENDING_SOURCE_BYTES.get(key)
    get_query("q1_pricing_summary").fn(spark, sf_dir)
    assert key not in runner._PENDING_SOURCE_BYTES


def test_runner_raises_on_nonlocal_master_without_sizing():
    """A non-local master with no explicit/registered sizing must
    fail loudly instead of running cluster-scale state on the floor."""
    from reindexer_spark.streaming import runner

    class _SC:
        master = "spark://cluster:7077"
        applicationId = "app-nonlocal-test"

    class _Session:
        sparkContext = _SC()

    class _DF:
        sparkSession = _Session()

    with pytest.raises(RuntimeError, match="non-local master"):
        runner.run_stream_to_memory(_DF())
