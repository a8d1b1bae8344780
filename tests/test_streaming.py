"""Structured Streaming sink/semantics tests beyond the oracle-gated
streaming queries: foreachBatch file sink with multi-batch replay.
"""

import os
import re
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def test_foreach_batch_parquet_sink(spark, events, tmp_path):
    """foreachBatch: the escape hatch for sinks without native
    streaming support — each micro-batch lands as a batch write.
    maxFilesPerTrigger=1 over two source files forces >= 2 batches,
    proving per-batch (not per-query) invocation."""
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half = events.count() // 2
    events.limit(half).write.parquet(str(src / "part1"))
    events.subtract(events.limit(half)).write.parquet(str(src / "part2"))

    schema = events.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    seen_batches = []

    def sink(batch_df, batch_id):
        seen_batches.append(batch_id)
        batch_df.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len(seen_batches) >= 2, seen_batches
    assert spark.read.parquet(out).count() == events.count()


def test_checkpoint_recovery_exactly_once(spark, events, tmp_path):
    """Stop/restart with the same checkpoint must not reprocess
    delivered batches: file source + checkpoint = exactly-once into an
    idempotent (append-parquet counted) sink. This is the recovery
    contract a 100 TB ingestion pipeline leans on."""
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = events.limit(40)
    rest = events.subtract(first).limit(25)
    first.write.parquet(str(src / "f1"))

    schema = events.schema

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    run_stream()
    n1 = spark.read.parquet(out).count()
    assert n1 == 40

    # new file arrives while the stream is down; restart from checkpoint
    rest.write.parquet(str(src / "f2"))
    run_stream()
    got = spark.read.parquet(out)
    assert got.count() == 65  # 40 + 25, nothing replayed
    assert got.select("event_id").distinct().count() == 65


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a watermark must DROP a row that
    arrives after the watermark passed its window — the state-eviction
    contract that keeps streaming state bounded at scale. Files are
    processed as separate micro-batches (maxFilesPerTrigger=1, mtimes
    ordered): f1 fills 10:0x windows, f2 advances the watermark to
    11:00, f3 carries a 09:00 straggler (dropped — a batch AFTER the
    watermark passed it) plus a 12:00 row whose trailing no-data batch
    flushes all finalized windows."""
    import os
    import time as _time

    import pandas as pd

    src = tmp_path / "src"
    os.makedirs(src)

    def write_file(name, ts_list, mtime):
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime(ts_list),
                "k": ["x"] * len(ts_list),
            }
        )
        p = str(src / name)
        spark.createDataFrame(pdf).coalesce(1).write.parquet(p)
        for root, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(p, (mtime, mtime))

    t0 = _time.time() - 1000
    write_file(
        "f1",
        ["2024-01-01 10:00:30", "2024-01-01 10:01:10", "2024-01-01 10:04:50"],
        t0,
    )
    write_file("f2", ["2024-01-01 11:00:00"], t0 + 100)
    write_file(
        "f3", ["2024-01-01 09:00:00", "2024-01-01 12:00:00"], t0 + 200
    )

    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1  # exactly the 09:00 straggler

    rows = {
        r.start.strftime("%H:%M"): r.n
        for r in spark.read.parquet(out)
        .select(F.col("w.start").alias("start"), "n")
        .collect()
    }
    assert "09:00" not in rows  # late row never reached the result
    assert rows == {"10:00": 1, "10:01": 1, "10:04": 1, "11:00": 1}


def test_vfs_stream_source_incremental(spark, tmp_path):
    """The fmr_vfs Python data source must serve NEW manifest entries
    only, across separate runs sharing a checkpoint (exactly-once
    incremental file arrival — the streaming form of the reference's
    traversal loop)."""
    import json

    from filemapreduce_spark.sources.vfs_datasource import register_vfs_source

    register_vfs_source(spark)
    manifest = tmp_path / "manifest.json"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    manifest.write_text(json.dumps({"a.txt": "1", "b/b.txt": "22"}))

    stream = (
        spark.readStream.format("fmr_vfs")
        .option("manifest", str(manifest))
        .load()
    )

    def run_once():
        q = (
            stream.selectExpr("path", "length", "octet_length(content) AS octets")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    got1 = sorted(r.path for r in spark.read.parquet(out).collect())
    assert got1 == ["a.txt", "b/b.txt"]

    # append files; a new run on the same checkpoint processes ONLY them
    entries = {"a.txt": "1", "b/b.txt": "22", "c.txt": "333", "d.txt": "é€😀"}
    manifest.write_text(json.dumps(entries))
    run_once()
    rows = spark.read.parquet(out).collect()
    assert sorted(r.path for r in rows) == sorted(entries)
    # exactly-once: no row duplicated across the two runs
    assert len(rows) == 4
    # length is the content's byte length, as in the batch reader and
    # the files schema, also for non-ASCII content
    assert all(r.length == r.octets for r in rows)
    assert {r.path: r.length for r in rows}["d.txt"] == 9


def test_streaming_partitioned_sink(spark, tmp_path):
    """Streaming writes must support partitionBy so downstream batch
    readers get partition pruning over continuously-arriving data
    (the streaming half of the partitioned-layout contract)."""
    from filemapreduce_spark.queries.streaming import _events_stream

    out = str(tmp_path / "out")
    stream = _events_stream(spark, "/root/testdata/sf0.001")
    q = (
        stream.withColumn("day", F.to_date("ts"))
        .select("day", "event_type", "user_id")
        .writeStream.format("parquet")
        .partitionBy("event_type")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import glob as pyglob

    dirs = sorted(
        p.split("=")[-1]
        for p in pyglob.glob(out + "/event_type=*")
    )
    assert dirs == ["click", "error", "purchase", "signup", "view"], dirs
    # pruning-eligible read back: one partition only
    got = spark.read.parquet(out).filter(F.col("event_type") == "click")
    import duckdb

    want = duckdb.sql(
        "SELECT count(*) FROM '/root/testdata/sf0.001/events.parquet' "
        "WHERE event_type = 'click'"
    ).fetchone()[0]
    assert got.count() == want


def test_native_session_window_agrees_with_manual_sessionization(spark):
    """The native session_window operator and the lag/cumsum manual
    formulation must find the same per-user session STARTS (both use
    a 30-min gap; the native end is last+gap, so starts are the
    comparable anchor)."""
    from filemapreduce_spark.queries import load_all

    registry = load_all()
    sf = "/root/testdata/sf0.001"
    native = {
        (r["user_id"], r["session_start_us"])
        for r in registry["session_window_batch_events"]
        .fn(spark, sf)
        .collect()
    }
    manual = registry["sessionize_events"].fn(spark, sf)
    cols = set(manual.columns)
    assert "user_id" in cols
    start_col = next(
        c
        for c in ("session_start_us", "start_epoch_us", "start_us")
        if c in cols
    )
    manual_set = {
        (r["user_id"], r[start_col]) for r in manual.collect()
    }
    assert native == manual_set


def _stream_tables(spark) -> set[str]:
    return {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("stream_out_")
    }


@pytest.mark.parametrize(
    "name", ["streaming_incremental_file_arrival", "streaming_tumbling_counts"]
)
def test_each_call_runs_the_stream(spark, sf_small, name):
    """A streaming registry query runs its stream on every call, into
    a memory sink of its own (no result kept from the first call), and
    leaves no ``stream_out_*`` view in the session; both calls get the
    same rows."""
    from filemapreduce_spark.queries import load_all

    fn = load_all()[name].fn
    results, sinks = [], []
    for _ in range(2):
        df = fn(spark, sf_small)
        assert _stream_tables(spark) == set()
        plan = df._jdf.queryExecution().analyzed().toString()
        sinks.append(set(re.findall(r"stream_out_[0-9a-f]{8}", plan)))
        results.append(df.collect())
    assert len(sinks[0]) == 1 and sinks[0] != sinks[1]
    assert results[0] and results[0] == results[1]


def test_upsert_result_outlives_the_next_streaming_call(spark, events, sf_small):
    """streaming_foreachbatch_upsert's DataFrame reads its last state
    generation lazily: the scratch cleanup of a later streaming call
    must leave that state in place."""
    from filemapreduce_spark.queries import load_all

    registry = load_all()
    upsert = registry["streaming_foreachbatch_upsert"].fn(spark, sf_small)
    registry["streaming_tumbling_counts"].fn(spark, sf_small).collect()
    rows = upsert.collect()
    assert rows
    assert sum(r["n_events"] for r in rows) == events.count()


def test_streaming_calls_in_threads(spark, sf_small):
    """Streaming queries running at once in three threads of one
    session each return their serial rows: a call removes only the
    scratch dirs it made (a dir made in the main thread outlives the
    threads' calls) and leaves the session's shuffle partitions as it
    found them."""
    from filemapreduce_spark.queries import load_all
    from filemapreduce_spark.queries.streaming import _cleanup_pending, _tmpdir

    registry = load_all()
    names = [
        "streaming_tumbling_counts",
        "streaming_sliding_counts",
        "streaming_dedup_keys",
    ]

    def rows(name):
        return sorted(registry[name].fn(spark, sf_small).collect(), key=repr)

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        serial = {n: rows(n) for n in names}
        mine = _tmpdir("fmr_test_")
        with ThreadPoolExecutor(len(names)) as pool:
            threaded = dict(zip(names, pool.map(rows, names)))
        assert os.path.isdir(mine)
        _cleanup_pending()
        assert not os.path.exists(mine)
        assert threaded == serial
        assert all(serial.values())
        assert spark.conf.get(key) == "8"
    finally:
        spark.conf.set(key, prev)



def test_scratch_dirs_stay_with_their_thread():
    """Many threads making and removing stream scratch dirs at once,
    with fast thread switching: a thread's cleanup removes exactly the
    dirs it made. Half the threads clean up first; the other half's
    dirs must still be there afterwards."""
    import sys
    import threading

    from filemapreduce_spark.queries.streaming import _cleanup_pending, _tmpdir

    n_threads = 4 * (os.cpu_count() or 1)
    phase = threading.Barrier(n_threads, timeout=60)
    errors = []

    def work(i):
        try:
            mine = [_tmpdir("fmr_test_") for _ in range(3)]
            phase.wait()  # every thread holds its dirs
            if i % 2 == 0:
                _cleanup_pending()
            phase.wait()  # the first half has cleaned up
            assert all(os.path.isdir(d) for d in mine) == (i % 2 == 1)
            _cleanup_pending()
            assert not any(os.path.exists(d) for d in mine)
        except Exception as e:  # reported by the main thread
            errors.append(e)
            phase.abort()

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=work, args=(i,)) for i in range(n_threads)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
