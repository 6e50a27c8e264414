"""Streaming-path tests: batch-equivalence of the streaming variants
(SURVEY.md §5.2 — prefix consistency makes this meaningful) and smoke
coverage for the S2-S9 source/sink constructors."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_streaming_example_spark.plans.registry import all_specs
from flink_streaming_example_spark.sources import streams
from flink_streaming_example_spark.testing import compare_frames

_SPECS = all_specs()


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    streamed = _SPECS["q_streaming_tumbling"].fn(spark, sf_dir).toPandas()
    batch = _SPECS["q_tumbling_window"].fn(spark, sf_dir).toPandas()
    result = compare_frames(streamed, batch)
    assert result.ok, result.detail


def test_collection_source(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.StringType()),
        ]
    )
    df = streams.collection_source(spark, [(1, "a"), (2, "b")], schema)
    assert df.count() == 2


def test_rate_source_schema(spark):
    df = streams.rate_source(spark, rows_per_second=10)
    assert df.isStreaming
    assert df.columns == ["event_id", "ts", "user_id", "event_type", "value", "props"]


def test_rate_source_drains(spark):
    import time

    df = streams.rate_source(spark, rows_per_second=200)
    seen: list[int] = []
    q = (
        streams.foreach_batch_sink(
            df, lambda batch_df, batch_id: seen.append(batch_df.count())
        )
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rate_ckpt_"))
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 30
    while time.time() < deadline and sum(seen) == 0:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert sum(seen) > 0


def test_socket_source_constructs(spark):
    df = streams.socket_source(spark, "localhost", 19999)
    assert df.isStreaming and df.columns == ["value"]


def test_socket_wordcount_end_to_end(spark):
    """S3 for real: a localhost TCP server thread feeds lines into the
    socket source and the literal flink-streaming-example identity
    query (socket text in -> running word counts out) drains through
    the streaming engine — no external network, no broker, yet the
    full source path (connect, line framing, EOF) is exercised."""
    import socket
    import threading
    import time

    lines = ["to be or not to be", "that is the question", "to be sure"]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        try:
            for line in lines:
                conn.sendall((line + "\n").encode())
            done.wait(45)  # hold the connection open until drained
        finally:
            conn.close()
            srv.close()

    threading.Thread(target=serve, daemon=True).start()
    counts = (
        streams.socket_source(spark, "127.0.0.1", port)
        .select(F.explode(F.split(F.col("value"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("socket_wordcount")
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sock_ckpt_"))
        .start()
    )
    try:
        expected = {}
        for line in lines:
            for tok in line.split(" "):
                expected[tok] = expected.get(tok, 0) + 1
        deadline = time.time() + 45
        got = {}
        while time.time() < deadline:
            got = {
                r.token: r.n
                for r in spark.table("socket_wordcount").collect()
            }
            if got == expected:
                break
            time.sleep(0.5)
        assert got == expected, f"{got} != {expected}"
    finally:
        done.set()
        q.stop()
        q.awaitTermination(30)


def test_kafka_source_unavailable_raises(spark):
    with pytest.raises(RuntimeError, match="file_replay"):
        streams.kafka_source(spark, "broker:9092", "events", "event_id LONG")


def test_file_sink_roundtrip(spark):
    src = streams.events_file_replay(spark, "/root/testdata/sf0.001")
    out = tempfile.mkdtemp(prefix="sink_out_")
    ckpt = tempfile.mkdtemp(prefix="sink_ckpt_")
    q = streams.file_sink(src, out, ckpt).trigger(availableNow=True).start()
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 1000


def test_foreach_batch_sink(spark):
    src = streams.events_file_replay(spark, "/root/testdata/sf0.001")
    seen: list[int] = []
    q = (
        streams.foreach_batch_sink(
            src, lambda batch_df, batch_id: seen.append(batch_df.count())
        )
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fb_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(seen) == 1000


def test_print_sink_constructs(spark):
    src = streams.events_file_replay(spark, "/root/testdata/sf0.001")
    writer = streams.print_sink(src.select(F.col("event_id")))
    assert writer is not None


def test_rocksdb_state_store_provider(spark, sf_dir):
    """The 100 TB state-store story, proven: the same stateful
    streaming query (windowed agg + session-window agg) runs on the
    RocksDB provider — the off-heap, spill-to-disk store sized for
    large keyed state — and produces results identical to the default
    HDFS-backed in-memory store."""
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    baseline = {
        name: _SPECS[name].fn(spark, sf_dir).toPandas()
        for name in ("q_streaming_tumbling", "q_streaming_session")
    }
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, rocksdb)
    try:
        for name, expected in baseline.items():
            got = _SPECS[name].fn(spark, sf_dir).toPandas()
            result = compare_frames(got, expected)
            assert result.ok, f"{name} under RocksDB: {result.detail}"
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def _tiny_replay(spark, path):
    """A 30-row bounded file replay: k = id % 3, v = id."""
    spark.range(30).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    ).write.parquet(str(path))
    return spark.readStream.schema("k long, v long").parquet(str(path))


def test_run_to_memory_drops_its_view_and_keeps_its_rows(spark, tmp_path):
    """The memory sink's temp view is dropped before run_to_memory
    returns, so no key's result outlives its frame; the frame's plan
    still holds the sink, so its rows stay readable, directly and
    through a self-join with a grouped copy of itself."""
    from flink_streaming_example_spark.streaming.queries import run_to_memory

    before = {t.name for t in spark.catalog.listTables()}
    res = run_to_memory(_tiny_replay(spark, tmp_path / "src"), spark)
    assert {t.name for t in spark.catalog.listTables()} == before

    want = sorted((i % 3, i) for i in range(30))
    assert sorted(map(tuple, res.collect())) == want
    per_k = res.groupBy(F.col("k").alias("gk")).agg(
        F.count(F.lit(1)).alias("n")
    )
    joined = res.join(per_k, res.k == per_k.gk).select("k", "v", "n")
    assert sorted(map(tuple, joined.collect())) == [
        (k, v, 10) for k, v in want
    ]


def test_drain_removes_its_work_dir_on_success_and_failure(
    spark, tmp_path, monkeypatch
):
    """drain's one work dir (checkpoint included) is gone after a clean
    stream and after a stream whose foreachBatch raises."""
    import os

    from pyspark.errors import StreamingQueryException

    src = _tiny_replay(spark, tmp_path / "src")
    work = tmp_path / "work"
    work.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(work))

    seen: list[int] = []
    with streams.drain(
        lambda d: streams.foreach_batch_sink(
            src, lambda b, _bid: seen.append(b.count())
        )
    ) as (d, q):
        assert os.path.dirname(d) == str(work)
        assert os.path.isdir(os.path.join(d, "checkpoint"))
        assert q.exception() is None
    assert sum(seen) == 30
    assert os.listdir(work) == []

    def boom(_b, _bid):
        raise RuntimeError("boom")

    with pytest.raises(StreamingQueryException):
        with streams.drain(lambda d: streams.foreach_batch_sink(src, boom)):
            pass
    assert os.listdir(work) == []
