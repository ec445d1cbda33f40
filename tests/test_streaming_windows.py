"""Event-time streaming: watermarked windows + stateful first-seen dedup."""

import sys
import time

from pyspark import cloudpickle
from pyspark.sql import functions as F

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "id STRING, ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).coalesce(1).write.mode("append").json(path)


def test_windowed_counts_streaming_matches_batch(spark, tmp_path):
    from ondine_spark.streaming.windows import windowed_counts

    src = str(tmp_path / "events_in")
    out = str(tmp_path / "events_out")
    ckpt = str(tmp_path / "ckpt")
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        (f"e{i}", base + dt.timedelta(minutes=7 * i), "click", float(i))
        for i in range(30)
    ]
    spark.createDataFrame(
        rows, "id STRING, ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "id STRING, ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).parquet(src)
    q = (
        windowed_counts(stream, "ts", "1 hour", "2 hours",
                        group_cols=["event_type"], value_col="value")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows the watermark has CLOSED; the final
    # (still-open) window is withheld — check the closed ones against batch
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    got = {r["window_start"]: r["n"] for r in spark.read.parquet(out).collect()}
    want = {r["window_start"]: r["n"] for r in batch.collect()}
    assert got  # at least the closed windows arrived
    for k, v in got.items():
        assert want[k] == v


def test_streaming_first_seen_across_batches(spark, tmp_path):
    from ondine_spark.streaming.windows import streaming_first_seen

    src = str(tmp_path / "dup_in")
    out = str(tmp_path / "dup_out")
    ckpt = str(tmp_path / "ckpt2")
    import datetime as dt

    base = dt.datetime(2026, 1, 1)

    # micro-batch 1: keys a,b (a twice)
    _write_events(spark, src, [
        ("a", base, "x", 1.0), ("a", base, "x", 2.0), ("b", base, "x", 3.0),
    ])

    def run_once(n_new):
        stream = spark.readStream.schema(
            "id STRING, ts TIMESTAMP, event_type STRING, value DOUBLE"
        ).json(src)
        q = (
            streaming_first_seen(stream, "id")
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # a one-shot catch-up run with the default TTL ends by itself
        try:
            assert q.awaitTermination(60), "availableNow run did not end"
            assert q.exception() is None
            assert sum(p["numInputRows"] for p in q.recentProgress) == n_new
        finally:
            q.stop()

    run_once(3)
    first = {r["id"] for r in spark.read.parquet(out).collect()}
    assert first == {"a", "b"}

    # micro-batch 2: a again (dup across batches) + new key c
    _write_events(spark, src, [
        ("a", base, "x", 9.0), ("c", base, "x", 4.0),
    ])
    run_once(2)
    rows = spark.read.parquet(out).collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == ["a", "b", "c"]  # 'a' emitted exactly once, ever


def test_streaming_first_seen_ttl_expires(spark, tmp_path):
    """A key's state expires once data arriving more than the TTL after
    its first sighting moves the watermark past it: the key may then be
    emitted again. Each availableNow run ends by itself."""
    import datetime as dt

    from ondine_spark.streaming.windows import streaming_first_seen

    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    base = dt.datetime(2026, 1, 1)

    def run_once(rows):
        _write_events(spark, src, [(k, base, "x", v) for k, v in rows])
        stream = spark.readStream.schema(
            "id STRING, ts TIMESTAMP, event_type STRING, value DOUBLE"
        ).json(src)
        q = (
            streaming_first_seen(stream, "id", state_ttl_minutes=0.02)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(60), "availableNow run did not end"
        finally:
            q.stop()
        return sorted(r["value"] for r in spark.read.parquet(out).collect())

    assert run_once([("a", 1.0), ("a", 2.0)]) == [1.0]
    time.sleep(1.5)  # past the 1.2 s TTL
    assert run_once([("b", 3.0)]) == [1.0, 3.0]  # its watermark expires 'a'
    assert run_once([("a", 4.0)]) == [1.0, 3.0, 4.0]


def test_streaming_sessions_match_batch_session_window(spark, tmp_path):
    from ondine_spark.streaming.windows import streaming_sessions

    src = str(tmp_path / "sess_in")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = []
    # user A: bursts at 10:00-10:04 (5 events) and 11:00-11:01 (2 events),
    # then a far-future event to push the watermark past both sessions
    for i in range(5):
        rows.append(("A", base + dt.timedelta(minutes=i), "click", 1.0))
    for i in range(2):
        rows.append(
            ("A", base + dt.timedelta(hours=1, minutes=i), "click", 2.0)
        )
    rows.append(("B", base + dt.timedelta(hours=9), "click", 0.0))
    spark.createDataFrame(
        rows, "id STRING, ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "id STRING, ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).parquet(src)
    q = (
        streaming_sessions(
            stream, "id", "ts", gap="10 minutes", watermark="1 hour",
            value_col="value",
        )
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.id, r.session_start): r
        for r in spark.read.parquet(out).collect()
    }
    # both A-sessions closed (watermark driven past by B's late event)
    s1 = got[("A", base)]
    assert s1.n_events == 5 and s1.value_sum == 5.0
    assert s1.last_event == base + dt.timedelta(minutes=4)
    # session_window end = last event + gap
    assert s1.session_end == base + dt.timedelta(minutes=14)
    s2 = got[("A", base + dt.timedelta(hours=1))]
    assert s2.n_events == 2 and s2.value_sum == 4.0
