"""Multicast delivery: with two or more sinks the batch is persisted once
and every sink is written at the same time, under the streaming query's
job group; a failing sink does not stop the others, and nothing is left
cached or running afterwards."""

from __future__ import annotations

import threading

import pytest

from dsp_spark.sinks.multicast import Multicast, memory_rows_sink

JOB_GROUP = "spark.jobGroup.id"


def _is_cached(spark, df) -> bool:
    cache = spark._jsparkSession.sharedState().cacheManager()
    return not cache.lookupCachedData(df._jdf).isEmpty()


def test_sinks_are_written_concurrently(spark):
    """Each sink waits for the other inside its write: only concurrent
    delivery lets both pass the barrier."""
    barrier = threading.Barrier(2)
    got: dict[str, int] = {}

    def sink(name):
        def write(batch, _epoch):
            barrier.wait(timeout=30)
            got[name] = batch.count()

        return write

    df = spark.range(100)
    Multicast().attach("a", sink("a")).attach("b", sink("b"))(df, 0)
    assert got == {"a": 100, "b": 100}
    assert not _is_cached(spark, df)


def test_every_sink_runs_in_the_query_job_group(spark, tmp_path):
    """Inside a running foreachBatch query every sink thread carries the
    query's runId as its job group, so query.stop() cancels its jobs."""
    src = tmp_path / "in"
    for lo in (0, 10):  # two files, two micro-batches
        spark.range(lo, lo + 10).coalesce(1).write.mode("append").parquet(str(src))
    seen: list[tuple[int, str, str | None]] = []
    lock = threading.Lock()

    def sink(name):
        def write(batch, epoch):
            group = batch.sparkSession.sparkContext.getLocalProperty(JOB_GROUP)
            batch.collect()
            with lock:
                seen.append((epoch, name, group))

        return write

    fan = Multicast()
    for name in ("a", "b", "c"):
        fan.attach(name, sink(name))
    q = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(str(src))
        .writeStream.foreachBatch(fan)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    run_id = str(q.runId)
    assert sorted(seen) == [(e, n, run_id) for e in (0, 1) for n in ("a", "b", "c")]


def test_failing_sink_does_not_stop_the_others(spark):
    """Sink A raises on the calling thread; sink B still gets every row,
    A's error is re-raised, and the batch is no longer cached."""

    class SinkDown(RuntimeError):
        pass

    def down(_batch, _epoch):
        raise SinkDown("a")

    got: list = []
    df = spark.range(500)
    fan = Multicast().attach("a", down).attach("b", memory_rows_sink(got))
    with pytest.raises(SinkDown):
        fan(df, 0)
    assert sorted(r.id for r in got) == list(range(500))
    assert not _is_cached(spark, df)


def test_first_error_in_attach_order_is_raised(spark):
    """Two pool-thread sinks fail; the one attached first wins although
    the other fails sooner, and the healthy sink still delivers."""

    def slow_fail(batch, _epoch):
        batch.count()
        raise ValueError("first")

    def fast_fail(_batch, _epoch):
        raise ValueError("second")

    got: list = []
    df = spark.range(50)
    fan = (
        Multicast()
        .attach("ok", memory_rows_sink(got))
        .attach("first", slow_fail)
        .attach("second", fast_fail)
    )
    with pytest.raises(ValueError, match="^first$"):
        fan(df, 0)
    assert len(got) == 50
    assert not _is_cached(spark, df)


def test_concurrent_delivery_leaks_no_threads(spark):
    """Thirty three-sink batches leave no Python thread behind, and the
    JVM thread count stops growing: a Py4J connection kept per pool
    thread would add at least two JVM threads a batch."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    stores: list[list] = [[], [], []]
    fan = Multicast()
    for i, store in enumerate(stores):
        fan.attach(f"nb{i}", memory_rows_sink(store))
    df = spark.range(20)
    py_threads = threading.active_count()
    for epoch in range(30):
        fan(df, epoch)
    jvm_threads = mx.getThreadCount()
    more = 10
    for epoch in range(30, 30 + more):
        fan(df, epoch)
    assert threading.active_count() == py_threads
    assert mx.getThreadCount() - jvm_threads < more
    assert [len(s) for s in stores] == [20 * (30 + more)] * 3


def _encodings(path) -> dict[str, set[str]]:
    """Column path -> encodings over every column chunk of a parquet dir."""
    import pyarrow.parquet as pq

    out: dict[str, set[str]] = {}
    for f in sorted(path.glob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(g).column(c)
                out.setdefault(col.path_in_schema, set()).update(col.encodings)
    return out


@pytest.mark.parametrize("override", [False, True])
def test_parquet_sink_writes_binary_columns_plain(spark, tmp_path, override):
    """key and value (binary) are written PLAIN with no dictionary; the
    string columns keep theirs; a caller's option turns it back on. The
    binaries repeat, so parquet would pick a dictionary for them too."""
    from dsp_spark.sinks.multicast import file_sink

    rows = [
        (i, bytes([i % 40]) * 8, "dev-test", {"type": "click"}, bytes([i % 50]) * 200,
         ("clicks", "all")[i % 2], ("nb", "audit")[i % 2])
        for i in range(3000)
    ]
    schema = ("id long, key binary, topic string, properties map<string,string>, "
              "value binary, rule string, destination string")
    batch = spark.createDataFrame(rows, schema)
    options = {"parquet.enable.dictionary#value": "true"} if override else None
    file_sink("parquet", str(tmp_path / "out"), options)(batch, 0)

    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.schema == batch.schema
    assert sorted(back.collect()) == sorted(batch.collect())
    enc = _encodings(tmp_path / "out")
    dictionary = {c for c, e in enc.items() if "PLAIN_DICTIONARY" in e}
    assert {"topic", "rule", "destination"} <= dictionary
    assert "PLAIN" in enc["key"] and "key" not in dictionary
    assert ("value" in dictionary) == override
    if not override:
        assert "PLAIN" in enc["value"]
