"""Stateful streaming: running per-station totals accumulate across
micro-batches, and the final totals and last_ts equal the batch groupBy
count and max(ts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bicis_spark.schemas import EVENTS
from bicis_spark.sources.io import read_table
from bicis_spark.streaming.stateful import running_station_counts
from bicis_spark.streaming.windows import read_events_stream


def test_running_counts_accumulate(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events_stream")
    # two files -> (with maxFilesPerTrigger=1) two micro-batches, forcing
    # state to carry across batches
    read_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite"
    ).parquet(src)

    stream = read_events_stream(spark, src, EVENTS)
    out = running_station_counts(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_counts_t")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # memory sink in update mode appends each emission; totals and last_ts
    # are both monotone per key, so the max per station is the final value
    emitted = spark.sql(
        "SELECT station, max(total_events) AS total, max(last_ts) AS last_ts "
        "FROM running_counts_t GROUP BY station"
    )
    got = {r["station"]: (r["total"], r["last_ts"]) for r in emitted.collect()}

    want = {
        r["user_id"]: (r["n"], r["last_ts"])
        for r in read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("last_ts"))
        .collect()
    }
    assert got == want and len(got) > 0

    n_batches = spark.sql(
        "SELECT count(*) AS c FROM running_counts_t"
    ).first()["c"]
    assert n_batches > len(want)  # more emissions than keys ⇒ multiple batches


def test_running_counts_null_ts_emits_null_last_ts(spark, tmp_path):
    """A key whose events all carry ts=NULL must emit last_ts=NULL, never
    the 1970 epoch (an integer-0 state initializer would fabricate an
    event time); a key with a mix reports the max non-null ts."""
    import datetime as dt

    from bicis_spark.schemas import EVENTS

    src = str(tmp_path / "null_ts_stream")
    t1 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, None, 10, "view", 1.0, None),
        (2, None, 10, "click", 1.0, None),
        (3, t1, 20, "view", 1.0, None),
        (4, None, 20, "click", 1.0, None),
    ]
    spark.createDataFrame(rows, EVENTS).write.mode("overwrite").parquet(src)

    from bicis_spark.streaming.stateful import running_station_counts
    from bicis_spark.streaming.windows import read_events_stream

    stream = read_events_stream(spark, src, EVENTS)
    q = (
        running_station_counts(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_counts_nullts")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["station"]: (r["total_events"], r["last_ts"])
        for r in spark.table("running_counts_nullts").collect()
    }
    assert got[10] == (2, None)
    assert got[20] == (2, t1)


def test_idle_timeout_evicts_and_rearms():
    """Eviction wiring for the opt-in ProcessingTimeTimeout: a timed-out
    key removes its state and emits nothing; an active key re-arms its
    timer after every update. (Unit-level with a fake GroupState — a live
    timeout test would hang processAllAvailable: pending timers keep the
    engine scheduling no-data batches, which is exactly why the timeout
    is opt-in.)"""
    import pandas as pd

    from bicis_spark.streaming.stateful import _make_update_running_counts

    class FakeState:
        def __init__(self, timed_out, existing=None):
            self.hasTimedOut = timed_out
            self.exists = existing is not None
            self.get = existing
            self.removed = False
            self.updated = None
            self.timeout_ms = None

        def remove(self):
            self.removed = True

        def update(self, v):
            self.updated = v

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    fn = _make_update_running_counts(5000)

    evict = FakeState(timed_out=True, existing=(7, 123))
    assert list(fn((1,), iter(()), evict)) == []
    assert evict.removed and evict.updated is None

    live = FakeState(timed_out=False, existing=(7, None))
    pdf = pd.DataFrame({"ts": pd.to_datetime(["2024-03-01 12:00:00"])})
    out = list(fn((1,), iter([pdf]), live))
    assert len(out) == 1 and out[0]["total_events"][0] == 8
    assert live.updated[0] == 8
    assert live.timeout_ms == 5000

    no_timeout = _make_update_running_counts(None)
    live2 = FakeState(timed_out=False, existing=None)
    list(no_timeout((1,), iter([pdf]), live2))
    assert live2.timeout_ms is None


def test_running_counts_on_rocksdb_state_store(spark, sf_dir, tmp_path):
    """applyInPandasWithState exercises a different state-store codepath
    than windowed aggregation (arbitrary per-key state rows, Python-side
    encode/decode): the same cross-batch accumulation must hold under the
    RocksDB provider, with progress metrics proving RocksDB engaged."""
    import json

    from bicis_spark.streaming.statestore import rocksdb_state

    src = str(tmp_path / "events_stream_rocks")
    read_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite"
    ).parquet(src)

    with rocksdb_state(spark):
        stream = read_events_stream(spark, src, EVENTS)
        q = (
            running_station_counts(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("running_counts_rocks_t")
            .start()
        )
        try:
            q.processAllAvailable()
            progress = [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()

    assert any(
        "rocksdb" in k.lower()
        for p in progress
        for op in p.get("stateOperators", [])
        for k in op.get("customMetrics", {})
    ), "no RocksDB custom metrics - provider conf ignored for Python state"

    emitted = spark.sql(
        "SELECT station, max(total_events) AS total "
        "FROM running_counts_rocks_t GROUP BY station"
    )
    got = {r["station"]: r["total"] for r in emitted.collect()}
    batch = (
        spark.read.schema(EVENTS)
        .parquet(src)
        .groupBy(F.col("user_id").alias("station"))
        .agg(F.count(F.lit(1)).alias("total"))
    )
    want = {r["station"]: r["total"] for r in batch.collect()}
    assert got == want and len(got) > 0
