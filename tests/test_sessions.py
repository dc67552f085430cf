"""Sessionization + stateful streaming operator tests."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row, functions as F

from analyst_toolkit_spark.streaming.sessions import dedup_stream, sessionize, stateful_running_stats


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: two sessions (gap > 30 min between #2 and #3)
        Row(event_id=1, user_id=1, ts="2024-01-01 10:00:00", value=1.0),
        Row(event_id=2, user_id=1, ts="2024-01-01 10:10:00", value=2.0),
        Row(event_id=3, user_id=1, ts="2024-01-01 12:00:00", value=3.0),
        # user 2: one session
        Row(event_id=4, user_id=2, ts="2024-01-01 09:00:00", value=4.0),
        Row(event_id=5, user_id=2, ts="2024-01-01 09:29:00", value=5.0),
    ]
    return spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))


def test_sessionize_batch(events):
    out = sessionize(events, gap="30 minutes").orderBy("user_id", "session_start").collect()
    assert [(r["user_id"], r["n_events"], r["session_value"]) for r in out] == [
        (1, 2, 3.0), (1, 1, 3.0), (2, 2, 9.0),
    ]
    first = out[0]
    assert str(first["session_start"]) == "2024-01-01 10:00:00"
    # session_end = last event + gap (Spark session_window semantics)
    assert str(first["session_end"]) == "2024-01-01 10:40:00"


def _stage_stream(spark, df):
    d = tempfile.mkdtemp(prefix="sess_src_")
    df.write.mode("overwrite").parquet(d)
    return d, spark.readStream.schema(df.schema).parquet(d)


def _drain(stream_writer_df, mode="update"):
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    out = []

    def sink(batch_df, batch_id):
        out.extend(batch_df.collect())

    q = (
        stream_writer_df.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def test_sessionize_stream_matches_batch(spark, events):
    d, stream = _stage_stream(spark, events)
    try:
        # session-window streaming aggs only support append/complete modes
        got = _drain(sessionize(stream, gap="30 minutes", watermark="1 hour"), mode="complete")
        batch = sessionize(events, gap="30 minutes").collect()
        key = lambda r: (r["user_id"], r["session_start"])
        assert sorted(((r["user_id"], str(r["session_start"]), r["n_events"]) for r in got)) == sorted(
            ((r["user_id"], str(r["session_start"]), r["n_events"]) for r in batch)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dedup_stream(spark, events):
    dup = events.union(events)  # every event twice
    d, stream = _stage_stream(spark, dup)
    try:
        got = _drain(dedup_stream(stream, ["event_id"], watermark="1 hour"), mode="append")
        assert sorted(r["event_id"] for r in got) == [1, 2, 3, 4, 5]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stateful_running_stats(spark, events):
    d, stream = _stage_stream(spark, events)
    try:
        got = _drain(stateful_running_stats(stream))
        by_user = {r["user_id"]: r for r in got}  # last batch wins per key
        assert by_user[1]["events_total"] == 3
        assert by_user[1]["value_sum"] == pytest.approx(6.0)
        assert by_user[1]["value_max"] == pytest.approx(3.0)
        assert by_user[2]["events_total"] == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow  # r16 tier split (default tier: the other watermark/sessionize stream tests)
def test_watermark_drops_late_rows(spark):
    """Late-data semantics: a row older than the watermark horizon arriving in
    a later batch is dropped from the windowed aggregate (documented
    Structured Streaming behavior, verified end-to-end with two file batches)."""
    import os

    from pyspark.sql import functions as F

    from analyst_toolkit_spark.streaming.rules import windowed_profile

    d = tempfile.mkdtemp(prefix="late_src_")
    ckpt = tempfile.mkdtemp(prefix="late_ckpt_")
    try:
        on_time = spark.createDataFrame(
            [("2024-01-05 10:00:00", 1.0), ("2024-01-05 11:00:00", 2.0)], "ts string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        late = spark.createDataFrame(
            [("2024-01-01 00:00:00", 100.0)], "ts string, value double"  # 4 days late
        ).withColumn("ts", F.to_timestamp("ts"))

        on_time.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(on_time.schema).option("maxFilesPerTrigger", 1).parquet(d)
        prof = windowed_profile(stream, ts_col="ts", window="1 day", watermark="1 day")

        results = []

        def sink(batch_df, batch_id):
            results.extend(batch_df.collect())
            if batch_id == 0:
                # first batch committed -> watermark advanced to Jan 4; now
                # drop in the 4-days-late file for the next trigger
                late.write.mode("append").parquet(d)

        q = (
            prof.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        deadline = 60
        import time as _t

        while q.isActive and deadline > 0:
            progress = q.lastProgress
            _t.sleep(2)
            deadline -= 2
            if progress and progress["numInputRows"] == 0 and len(results) >= 1 and deadline < 40:
                break
        q.stop()
        q.awaitTermination(30)

        windows = {str(r["window_start"]): r["rows"] for r in results}
        # the on-time window aggregated; the late Jan-1 window never appears
        assert any(w.startswith("2024-01-05") for w in windows)
        assert not any(w.startswith("2024-01-01") for w in windows)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_sessionize_stream_append_multibatch_horizon(spark):
    """The q_events_stream_sessions contract, proven over TWO file batches:
    append-mode session_window emits each session exactly once as the
    watermark passes its end, and every session strictly older than
    max(ts) - (watermark + margin) is flushed by stream end — so the
    horizon-cut surface equals batch sessionization under the same cut even
    when the stream is split across micro-batches."""
    batch1 = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (1, "2024-01-01 10:10:00", 2.0),
            (1, "2024-01-01 12:00:00", 3.0),
            (2, "2024-01-01 09:00:00", 4.0),
            (2, "2024-01-01 09:29:00", 5.0),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch2 = spark.createDataFrame(
        [(3, "2024-01-02 09:00:00", 6.0), (3, "2024-01-02 18:00:00", 7.0)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))

    d = tempfile.mkdtemp(prefix="sess_mb_src_")
    ckpt = tempfile.mkdtemp(prefix="sess_mb_ckpt_")
    try:
        # ONE file per batch: the contract under test is in-order multi-batch
        # arrival. (First attempt wrote 32-partition files and
        # maxFilesPerTrigger=1 delivered them in arbitrary event-time order —
        # the watermark then late-dropped the 10:10 event and emitted a
        # 1-event partial session: the exact divergence the horizon watermark
        # in q_events_stream_dedup/_stateful guards against, reproduced live.)
        batch1.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(batch1.schema).option("maxFilesPerTrigger", 1).parquet(d)
        sess = sessionize(stream, gap="30 minutes", watermark="1 hour")
        emitted = []
        appended = [False]

        def sink(bdf, bid):
            emitted.extend(bdf.collect())
            if not appended[0]:
                appended[0] = True  # batch 0 committed -> in-order later file
                batch2.coalesce(1).write.mode("append").parquet(d)

        q = (
            sess.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        import time as _t

        deadline = 120
        while q.isActive and deadline > 0:
            _t.sleep(2)
            deadline -= 2
            # run until the no-data flush batch has emitted every session the
            # final watermark (18:00 - 1h) closes: all four under the horizon
            if appended[0] and len(emitted) >= 4:
                break
        q.stop()
        q.awaitTermination(30)

        full = batch1.unionByName(batch2)
        horizon = full.agg(F.max("ts")).first()[0] - __import__("datetime").timedelta(hours=2)
        batch_sessions = sorted(
            (r["user_id"], str(r["session_start"]), r["n_events"], r["session_value"])
            for r in sessionize(full, gap="30 minutes").collect()
            if r["session_end"] < horizon
        )
        got = sorted(
            (r["user_id"], str(r["session_start"]), r["n_events"], r["session_value"])
            for r in emitted
            if r["session_end"] < horizon
        )
        assert len({(r["user_id"], str(r["session_start"])) for r in emitted}) == len(emitted), (
            "append mode re-emitted a session"
        )
        assert got == batch_sessions and len(got) == 4
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_session_paths_query_ground_truth(spark, monkeypatch, tmp_path):
    """q_events_session_paths on a hand-built event log: gap rule splits at
    exactly 30 minutes (microsecond-exact), paths order by (ts, event_id),
    census orders by sessions desc then path asc."""
    import __spark_entry__ as entry_mod

    rows = [
        # user 1, session A: view -> cart (same second, ordered by event_id)
        (1, 1, "2024-01-01 10:00:00.000001", "view"),
        (2, 1, "2024-01-01 10:00:00.000001", "cart"),
        # exactly 30 min later: NEW session (>= gap)
        (3, 1, "2024-01-01 10:30:00.000001", "view"),
        # user 2: one session, 29:59.999999 gap stays inside
        (4, 2, "2024-01-01 09:00:00.000000", "view"),
        (5, 2, "2024-01-01 09:29:59.999999", "buy"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts string, event_type string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    p = str(tmp_path / "events.parquet")
    df.write.parquet(p)
    monkeypatch.setattr(
        entry_mod, "load_table", lambda spark_, sf_, name: spark_.read.parquet(p)
    )
    got = [(r["path"], r["sessions"], r["events"]) for r in entry_mod.q_events_session_paths(spark, str(tmp_path)).collect()]
    # one session each: u1-B 'view' (split at the EXACT 30-min boundary),
    # u2 'view>buy' (29:59.999999 stays inside), u1-A 'view>cart' (event_id
    # breaks the equal-timestamp tie); all tie at 1 session -> path asc
    assert got == [("view", 1, 1), ("view>buy", 1, 2), ("view>cart", 1, 2)]


def test_interval_join_batch_ground_truth(spark):
    """interval_join over BATCH frames: inclusive [ts - window, ts] bounds,
    key equality, disjoint-column contract enforced."""
    import pytest

    from analyst_toolkit_spark.streaming.joins import interval_join

    purch = spark.createDataFrame(
        [(1, 100, "2024-01-01 12:00:00"), (2, 101, "2024-01-01 12:00:00")],
        "user_id long, purchase_id long, pts string",
    ).withColumn("pts", F.to_timestamp("pts"))
    clicks = spark.createDataFrame(
        [
            (1, 200, "2024-01-01 11:00:00"),  # exactly window before -> in
            (1, 201, "2024-01-01 10:59:59.999999"),  # 1 us too early -> out
            (1, 202, "2024-01-01 12:00:00"),  # same instant -> in
            (1, 203, "2024-01-01 12:00:00.000001"),  # after purchase -> out
            (2, 204, "2024-01-01 11:30:00"),  # other user's window -> in for u2
        ],
        "user_id long, click_id long, cts string",
    ).withColumn("cts", F.to_timestamp("cts"))
    out = interval_join(purch, clicks, key="user_id", left_ts="pts",
                        right_ts="cts", window="1 hour")
    got = sorted((r["user_id"], r["purchase_id"], r["click_id"]) for r in out.collect())
    assert got == [(1, 100, 200), (1, 100, 202), (2, 101, 204)]
    with pytest.raises(ValueError, match="named differently"):
        interval_join(purch.withColumnRenamed("pts", "ts"),
                      clicks.withColumnRenamed("cts", "ts"))
    with pytest.raises(ValueError, match="overlapping"):
        interval_join(purch, clicks.withColumnRenamed("click_id", "purchase_id"),
                      left_ts="pts", right_ts="cts")


def test_interval_join_stream_matches_batch_any_split(spark):
    """Stream-stream interval join over a 3-file source (maxFilesPerTrigger=1,
    sides arriving across different micro-batches) emits exactly the batch
    join's row set when the watermark never evicts state — the determinism
    contract q_events_stream_stream_join relies on."""
    import os

    from analyst_toolkit_spark.streaming.joins import interval_join

    d = tempfile.mkdtemp(prefix="ssj_src_")
    ckpt = tempfile.mkdtemp(prefix="ssj_ckpt_")
    sink = tempfile.mkdtemp(prefix="ssj_sink_") + "/data"
    try:
        rows = [
            (1, 1, "2024-01-01 10:00:00", "click"),
            (2, 1, "2024-01-01 10:30:00", "purchase"),   # matches 1
            (3, 1, "2024-01-01 09:20:00", "click"),      # 70 min before -> out
            (4, 2, "2024-01-01 08:00:00", "click"),
            (5, 2, "2024-01-01 08:59:00", "purchase"),   # matches 4
            (6, 2, "2024-01-01 09:30:00", "purchase"),   # 90 min after 4 -> no match
        ]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts string, event_type string")
        df = df.withColumn("ts", F.to_timestamp("ts"))
        # 3 files, one event-time-shuffled slice each -> 3 micro-batches
        for i, ids in enumerate(((2, 4), (1, 6), (3, 5))):
            df.filter(F.col("event_id").isin(*ids)).coalesce(1).write.mode(
                "append"
            ).parquet(d)
        stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(d)
        purch = stream.filter("event_type = 'purchase'").select(
            "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts"))
        clicks = stream.filter("event_type = 'click'").select(
            "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts"))
        joined = interval_join(purch, clicks, key="user_id", left_ts="pts",
                               right_ts="cts", window="1 hour",
                               left_watermark="3650 days", right_watermark="3650 days")
        (
            joined.writeStream.outputMode("append")
            .foreachBatch(lambda b, _i: b.write.mode("append").parquet(sink))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
        got = sorted((r["user_id"], r["purchase_id"], r["click_id"])
                     for r in spark.read.parquet(sink).collect())
        assert got == [(1, 2, 1), (2, 5, 4)]
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(sink), ignore_errors=True)


def test_interval_join_batch_left_outer(spark):
    """how='left' over batch frames: unmatched left rows survive null-padded
    (the batch-parity contract; in streaming, outer emission additionally
    waits for the watermark to close the row's match window — documented)."""
    from analyst_toolkit_spark.streaming.joins import interval_join

    purch = spark.createDataFrame(
        [(1, 100, "2024-01-01 12:00:00"), (9, 101, "2024-01-01 12:00:00")],
        "user_id long, purchase_id long, pts string",
    ).withColumn("pts", F.to_timestamp("pts"))
    clicks = spark.createDataFrame(
        [(1, 200, "2024-01-01 11:30:00")],
        "user_id long, click_id long, cts string",
    ).withColumn("cts", F.to_timestamp("cts"))
    out = interval_join(purch, clicks, key="user_id", left_ts="pts",
                        right_ts="cts", window="1 hour", how="left")
    got = {(r["purchase_id"]): r["click_id"] for r in out.collect()}
    assert got == {100: 200, 101: None}


def test_interval_join_outer_key_never_null(spark):
    """r10 ADVICE: how='right'/'full' used to emit NULL keys for
    right-unmatched rows (drop(r[key]) kept only the left key). The key is
    now coalesced across sides — never NULL on any outer row — and an
    unknown `how` fails loudly."""
    from analyst_toolkit_spark.streaming.joins import interval_join

    purch = spark.createDataFrame(
        [(1, 100, "2024-01-01 12:00:00")],
        "user_id long, purchase_id long, pts string",
    ).withColumn("pts", F.to_timestamp("pts"))
    clicks = spark.createDataFrame(
        [(1, 200, "2024-01-01 11:30:00"), (7, 201, "2024-01-01 11:30:00")],
        "user_id long, click_id long, cts string",
    ).withColumn("cts", F.to_timestamp("cts"))
    out = interval_join(purch, clicks, key="user_id", left_ts="pts",
                        right_ts="cts", window="1 hour", how="right")
    got = {r["click_id"]: (r["user_id"], r["purchase_id"]) for r in out.collect()}
    assert got == {200: (1, 100), 201: (7, None)}  # key 7 survives, not NULL
    full = interval_join(purch, clicks, key="user_id", left_ts="pts",
                         right_ts="cts", window="1 hour", how="full")
    assert {r["user_id"] for r in full.collect()} == {1, 7}
    with pytest.raises(ValueError, match="unsupported how"):
        interval_join(purch, clicks, key="user_id", left_ts="pts",
                      right_ts="cts", how="cross")


def test_interval_join_checkpoint_recovery(spark):
    """r12 (r11 VERDICT #6, second seam): the stream-stream interval join's
    BUFFERED STATE survives a restart. Phase 1 runs to completion having
    seen only purchase 2 (u1) and click 4 (u2) — zero matches, both rows
    buffered in join state. The matching rows arrive while the query is
    down; phase 2 is a NEW query on the SAME checkpoint, so BOTH emitted
    matches pair a phase-2 arrival with a phase-1 buffered row — impossible
    unless the state store restored. Final set == batch join, no dupes."""
    import os

    from analyst_toolkit_spark.streaming.joins import interval_join

    d = tempfile.mkdtemp(prefix="ssjr_src_")
    ckpt = tempfile.mkdtemp(prefix="ssjr_ckpt_")
    sink = tempfile.mkdtemp(prefix="ssjr_sink_") + "/data"
    try:
        rows = [
            (1, 1, "2024-01-01 10:00:00", "click"),
            (2, 1, "2024-01-01 10:30:00", "purchase"),   # matches 1 (phase 2)
            (3, 1, "2024-01-01 09:20:00", "click"),      # 70 min before -> out
            (4, 2, "2024-01-01 08:00:00", "click"),
            (5, 2, "2024-01-01 08:59:00", "purchase"),   # matches 4 (phase 1)
            (6, 2, "2024-01-01 09:30:00", "purchase"),   # no match
        ]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts string, event_type string")
        df = df.withColumn("ts", F.to_timestamp("ts"))

        def run_phase():
            stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(d)
            purch = stream.filter("event_type = 'purchase'").select(
                "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts"))
            clicks = stream.filter("event_type = 'click'").select(
                "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts"))
            joined = interval_join(purch, clicks, key="user_id", left_ts="pts",
                                   right_ts="cts", window="1 hour",
                                   left_watermark="3650 days", right_watermark="3650 days")
            (
                joined.writeStream.outputMode("append")
                .foreachBatch(lambda b, _i: b.write.mode("append").parquet(sink))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination(120)
            )

        df.filter(F.col("event_id").isin(2, 4)).coalesce(1).write.mode("append").parquet(d)
        run_phase()  # phase 1: buffers purchase 2 + click 4, emits nothing
        assert not os.path.exists(sink) or not [
            f for f in os.listdir(sink) if f.endswith(".parquet")
        ] or spark.read.parquet(sink).count() == 0
        for ids in ((1, 6), (3, 5)):  # the partners arrive while down
            df.filter(F.col("event_id").isin(*ids)).coalesce(1).write.mode("append").parquet(d)
        run_phase()  # phase 2: NEW query, SAME checkpoint — state restores
        got = sorted((r["user_id"], r["purchase_id"], r["click_id"])
                     for r in spark.read.parquet(sink).collect())
        assert got == [(1, 2, 1), (2, 5, 4)]  # both matches straddle the restart
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(sink), ignore_errors=True)


def test_dedup_stream_checkpoint_recovery(spark):
    """r12 (third stateful-store kind restart-proven, after GroupState and
    join state): dropDuplicatesWithinWatermark's dedup state survives a
    restart. Phase 1 emits rows A/B and buffers their keys; byte-identical
    DUPLICATES of A/B (plus one genuinely new row C) arrive while the query
    is down; phase 2 (new query, same checkpoint) must emit ONLY C — a
    reset state store would re-emit the duplicates."""
    import os

    d = tempfile.mkdtemp(prefix="ddr_src_")
    ckpt = tempfile.mkdtemp(prefix="ddr_ckpt_")
    sink = tempfile.mkdtemp(prefix="ddr_sink_") + "/data"
    try:
        rows = [
            (1, "2024-01-01 10:00:00", 1.0),
            (2, "2024-01-01 10:05:00", 2.0),
            (3, "2024-01-01 10:10:00", 3.0),
        ]
        df = spark.createDataFrame(rows, "event_id long, ts string, value double")
        df = df.withColumn("ts", F.to_timestamp("ts"))

        def run_phase():
            stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(d)
            out = dedup_stream(stream, ["event_id"], watermark="3650 days")
            (
                out.writeStream.outputMode("append")
                .foreachBatch(lambda b, _i: b.write.mode("append").parquet(sink))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination(120)
            )

        df.filter("event_id in (1, 2)").coalesce(1).write.mode("append").parquet(d)
        run_phase()  # phase 1: emits 1, 2; state holds both keys
        assert sorted(r["event_id"] for r in spark.read.parquet(sink).collect()) == [1, 2]
        # duplicates of 1/2 + new row 3 arrive while the query is down
        df.filter("event_id in (1, 2, 3)").coalesce(1).write.mode("append").parquet(d)
        run_phase()  # phase 2: restored state suppresses 1/2; only 3 emits
        got = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
        assert got == [1, 2, 3]  # each exactly once across the restart
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(sink), ignore_errors=True)
