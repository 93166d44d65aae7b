"""Streaming semantics tests (SURVEY §2.10 mapping).

Pattern mirrors the reference's batch-by-batch assertion harness
(streaming TestSuiteBase.scala): write the events table as N parquet
chunks, stream them with maxFilesPerTrigger=1 (one chunk = one
micro-batch), and assert the streaming result equals the equivalent
batch computation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_monotasks_spark.streaming import dstream


@pytest.fixture(scope="module")
def chunked_events(spark, tmp_path_factory):
    from spark_monotasks_spark.tables import load_table

    from tests.conftest import SF_TEST_DIR

    base = tmp_path_factory.mktemp("events_chunks")
    events = load_table(spark, SF_TEST_DIR, "events")
    # 4 deterministic chunks by event_id range → stable micro-batches
    n = events.count()
    step = n // 4 + 1
    for i in range(4):
        (
            events.filter(
                (F.col("event_id") >= i * step) & (F.col("event_id") < (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(str(base), f"chunk={i}"))
        )
    # flatten chunk dirs into one glob-able dir of files
    flat = tmp_path_factory.mktemp("events_flat")
    import glob
    import shutil

    for i, f in enumerate(
        sorted(glob.glob(os.path.join(str(base), "chunk=*", "*.parquet")))
    ):
        shutil.copy(f, os.path.join(str(flat), f"part-{i}.parquet"))
    return str(flat), events


def _await(q):
    finished = q.awaitTermination(120)
    q.stop()
    assert finished, "streaming query did not drain within 120s"


def test_windowed_count_matches_batch(spark, chunked_events):
    path, events = chunked_events
    stream = dstream.file_stream(spark, path, events.schema)
    agg = dstream.count_by_value_and_window(
        stream, "ts", ["event_type"], "1 hour"
    )
    q = dstream.start_memory_sink(agg, "win_counts", output_mode="complete")
    _await(q)
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.table("win_counts").collect()
    }
    expected = {
        (r.window_start, r.event_type): r.n
        for r in events.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected


def test_sliding_window_sum_matches_batch(spark, chunked_events):
    path, events = chunked_events
    stream = dstream.file_stream(spark, path, events.schema)
    agg = dstream.reduce_by_key_and_window(
        stream, "ts", ["event_type"], "value", window="2 hours", slide="1 hour"
    )
    q = dstream.start_memory_sink(agg, "win_sums", output_mode="complete")
    _await(q)
    got = {
        (r.window_start, r.event_type): round(r.sum_value, 6)
        for r in spark.table("win_sums").collect()
    }
    expected = {
        (r.ws, r.event_type): round(r.s, 6)
        for r in events.groupBy(
            F.window("ts", "2 hours", "1 hour").start.alias("ws"), "event_type"
        )
        .agg(F.sum("value").alias("s"))
        .collect()
    }
    assert got == expected


def test_update_state_by_key_running_sum(spark, chunked_events):
    path, events = chunked_events
    stream = dstream.file_stream(spark, path, events.schema)
    stateful = dstream.update_state_by_key(
        stream.select("user_id", "value"), ["user_id"], "value"
    )
    q = dstream.start_memory_sink(stateful, "running", output_mode="update")
    _await(q)
    # last update per key == full batch sum (updateStateByKey semantics:
    # final state after all batches equals the total fold)
    updates = spark.table("running").collect()
    assert updates, "no state updates emitted"
    final: dict = {}
    for r in updates:  # memory sink appends update-mode rows in batch order
        final[r.user_id] = r.state
    expected = {
        r.user_id: r.total
        for r in events.groupBy("user_id")
        .agg(F.sum("value").alias("total"))
        .collect()
    }
    assert set(final) == set(expected)
    for k, v in expected.items():
        assert abs(final[k] - v) < 1e-6, f"user {k}: {final[k]} != {v}"


def test_foreach_batch_collects_batches(spark, chunked_events, tmp_path):
    path, events = chunked_events
    stream = dstream.file_stream(spark, path, events.schema)
    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    q = dstream.for_each_batch(stream, sink).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    _await(q)
    assert len(seen) == 4, f"expected 4 micro-batches, got {seen}"
    assert sum(n for _, n in seen) == events.count()


def test_file_sink_roundtrip(spark, chunked_events, tmp_path):
    path, events = chunked_events
    stream = dstream.file_stream(spark, path, events.schema)
    out = str(tmp_path / "out")
    q = dstream.start_file_sink(
        stream.filter(F.col("event_type") == "click").select("event_id", "value"),
        out,
        checkpoint=str(tmp_path / "ckpt2"),
    )
    _await(q)
    got = spark.read.parquet(out).count()
    expected = events.filter(F.col("event_type") == "click").count()
    assert got == expected


def test_checkpoint_recovery_exactly_once(spark, chunked_events, tmp_path):
    """CheckpointSuite parity: stop after the first batches, restart from
    the same checkpoint, and the sink must hold every input row exactly
    once (no loss, no reprocessing duplicates)."""
    import glob
    import shutil

    path, events = chunked_events
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    staged = tmp_path / "staged"
    staged.mkdir()
    for f in files[:2]:
        shutil.copy(f, staged / os.path.basename(f))

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = dstream.file_stream(spark, str(staged), events.schema)
        q = dstream.start_file_sink(
            stream.select("event_id", "value"), out, checkpoint=ckpt
        )
        _await(q)

    run_once()  # phase 1: first two chunks
    n_phase1 = spark.read.parquet(out).count()
    assert 0 < n_phase1 < events.count()

    for f in files[2:]:
        shutil.copy(f, staged / os.path.basename(f))
    run_once()  # phase 2: restart from checkpoint, only new files process

    got = spark.read.parquet(out)
    assert got.count() == events.count()  # no loss, no duplicates
    assert got.select("event_id").distinct().count() == events.count()


def test_stream_static_join_matches_batch(spark, chunked_events):
    """Stream join (PairDStreamFunctions.scala:482): a stream joined to
    a static dimension — each micro-batch joins against the dim, union
    of outputs equals the batch join."""
    path, events = chunked_events
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0)],
        "event_type string, weight double",
    )
    stream = dstream.file_stream(spark, path, events.schema)
    joined = stream.join(dim, on="event_type").select(
        "event_id", (F.col("value") * F.col("weight")).alias("wv")
    )
    q = dstream.start_memory_sink(joined, "sj", output_mode="append")
    _await(q)
    got = spark.table("sj").agg(
        F.count("*").alias("n"), F.round(F.sum("wv"), 4).alias("s")
    ).first()
    exp = (
        events.join(dim, on="event_type")
        .select((F.col("value") * F.col("weight")).alias("wv"))
        .agg(F.count("*").alias("n"), F.round(F.sum("wv"), 4).alias("s"))
        .first()
    )
    assert (got.n, got.s) == (exp.n, exp.s)


def test_kafka_stream_gated_with_actionable_error(spark):
    """No kafka connector jar in this container (offline): the wrapper
    must fail with the exact package coordinate a user needs, not a raw
    ClassNotFoundException (COVERAGE.md §2.10)."""
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        dstream.kafka_stream(spark, "localhost:9092", "events")


def test_stream_stream_join_matches_batch(spark, chunked_events, tmp_path):
    """stream-stream join (PairDStreamFunctions.scala:482): two streams
    over the same chunked source, self-joined on event_id with an
    event-time range — result must equal the batch self-join even
    though matches can pair across micro-batches (state store holds
    the unmatched side until the watermark passes)."""
    path, events = chunked_events
    left = dstream.file_stream(spark, path, events.schema).select(
        F.col("event_id").alias("l_id"),
        F.col("ts").cast("timestamp").alias("l_ts"),
        F.col("value").alias("l_value"),
    )
    right = dstream.file_stream(spark, path, events.schema).select(
        F.col("event_id").alias("r_id"),
        F.col("ts").cast("timestamp").alias("r_ts"),
        F.col("event_type").alias("r_type"),
    )
    # chunks are split by event_id, not time, so each micro-batch spans
    # the whole ts range: the watermark delay must cover that spread or
    # later batches' rows arrive "late" and get dropped (the correct
    # production behavior; here we want the lossless comparison)
    joined = dstream.stream_stream_join(
        left, right, "l_id", "r_id", "l_ts", "r_ts",
        watermark="365 days", max_skew="1 hour",
    ).select("l_id", "l_value", "r_type")
    q = dstream.start_file_sink(
        joined, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    _await(q)
    got = spark.read.parquet(str(tmp_path / "out"))
    # event_id is unique → self-join on it is exactly one match per row
    assert got.count() == events.count()
    assert got.select("l_id").distinct().count() == events.count()
    sample = got.filter(F.col("l_id") == got.first().l_id).first()
    exp = events.filter(F.col("event_id") == sample.l_id).first()
    assert sample.l_value == exp.value and sample.r_type == exp.event_type


def test_stream_union_matches_batch(spark, chunked_events):
    """DStream.union parity: union of two streams drains to the bag
    union of their inputs (append mode, no dedup)."""
    path, events = chunked_events
    a = dstream.file_stream(spark, path, events.schema).select("event_id")
    b = dstream.file_stream(spark, path, events.schema).select("event_id")
    q = dstream.start_memory_sink(a.union(b), "su", output_mode="append")
    _await(q)
    assert spark.table("su").count() == 2 * events.count()


# --- kafka decode path (offline: connector socket needs the external
# --- package; everything AFTER the source is covered here) -----------------

def _kafka_records(spark, rows):
    return spark.createDataFrame(rows, dstream.KAFKA_RECORD_SCHEMA)


def test_kafka_decode_batch(spark):
    import datetime

    ts = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (b"k1", b'{"user": 7, "amt": 1.5}', "orders", 0, 100, ts, 0),
        (b"k2", b'{"user": 8, "amt": 2.5}', "orders", 1, 101, ts, 0),
        (None, b"not json", "orders", 0, 102, ts, 0),
    ]
    plain = dstream.kafka_decode(_kafka_records(spark, rows)).collect()
    assert [r.value for r in plain] == [
        '{"user": 7, "amt": 1.5}', '{"user": 8, "amt": 2.5}', "not json"
    ]
    assert [r.offset for r in plain] == [100, 101, 102]

    typed = dstream.kafka_decode(
        _kafka_records(spark, rows), value_schema="user long, amt double"
    ).collect()
    assert {(r.user, r.amt) for r in typed} == {(7, 1.5), (8, 2.5), (None, None)}

    kept = dstream.kafka_decode(
        _kafka_records(spark, rows),
        value_schema="user long, amt double",
        drop_corrupt=True,
    ).collect()
    assert {r.user for r in kept} == {7, 8}


def test_kafka_decode_streaming(spark, tmp_path):
    """The same decode runs under Structured Streaming semantics: stage
    kafka-shaped records as a file stream, decode, aggregate per key."""
    import uuid

    src = _kafka_records(
        spark,
        [
            (b"a", b'{"n": 1}', "t", 0, 0, None, 0),
            (b"a", b'{"n": 2}', "t", 0, 1, None, 0),
            (b"b", b'{"n": 5}', "t", 1, 0, None, 0),
        ],
    )
    stage = str(tmp_path / "kafka_stage")
    src.write.parquet(stage)
    stream = dstream.file_stream(spark, stage, src.schema)
    decoded = dstream.kafka_decode(stream, value_schema="n long")
    agg = decoded.groupBy("key").agg(F.sum("n").alias("total"))
    name = f"kafka_decode_{uuid.uuid4().hex[:8]}"
    q = dstream.start_memory_sink(agg, name, output_mode="complete")
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = {r.key: r.total for r in spark.table(name).collect()}
    assert got == {"a": 3, "b": 5}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids inside the watermark window are delivered
    exactly once; the batch-side equivalence is distinct-by-key."""
    import datetime
    import uuid

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, "a"),
        (1, t0 + datetime.timedelta(seconds=30), "a-dup"),   # dup of key 1
        (2, t0 + datetime.timedelta(seconds=10), "b"),
        (3, t0 + datetime.timedelta(seconds=40), "c"),
        (2, t0 + datetime.timedelta(seconds=50), "b-dup"),   # dup of key 2
    ]
    src = spark.createDataFrame(rows, "event_id long, ts timestamp, tag string")
    stage = str(tmp_path / "dedup_stage")
    src.write.parquet(stage)
    stream = dstream.file_stream(spark, stage, src.schema)
    deduped = dstream.stream_dedup(
        stream, keys=["event_id"], ts_col="ts", watermark="10 minutes"
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = dstream.start_memory_sink(deduped, name, output_mode="append")
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(r.event_id for r in spark.table(name).collect())
    assert got == [1, 2, 3]


def test_session_window_stream_matches_batch_sessionize(spark, tmp_path):
    """Session windows under streaming semantics: events within the gap
    merge into one session; a gap closes it.  Hand-computed sessions."""
    import datetime
    import uuid

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def at(sec):
        return t0 + datetime.timedelta(seconds=sec)

    rows = [  # user 1: two sessions (gap 60s); user 2: one session
        (1, at(0)), (1, at(30)), (1, at(50)),
        (1, at(200)), (1, at(210)),
        (2, at(0)),
    ]
    src = spark.createDataFrame(rows, "user_id long, ts timestamp")
    stage = str(tmp_path / "sess_stage")
    src.write.parquet(stage)
    stream = dstream.file_stream(spark, stage, src.schema)
    agg = dstream.session_windowed_agg(
        stream, "ts", "60 seconds",
        aggs=[F.count("*").alias("n_events")],
        keys=("user_id",),
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = dstream.start_memory_sink(agg, name, output_mode="complete")
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(
        ((r.user_id, r.session_start, r.session_end, r.n_events)
         for r in spark.table(name).collect()),
    )
    got = [(u, n, s, e) for (u, s, e, n) in got]
    assert [(u, n) for (u, n, _, _) in got] == [(1, 3), (1, 2), (2, 1)]
    # session extents: [first_event, last_event + gap)
    assert got[0][2] == at(0) and got[0][3] == at(50 + 60)
    assert got[1][2] == at(200) and got[1][3] == at(210 + 60)


def test_running_topk_transform_with_state(spark, chunked_events):
    """transformWithStateInPandas (modern Spark-4 state API): the
    operator validates its runtime dependencies up front.  Its state
    server speaks protobuf, which this container lacks (like the Kafka
    jars) — so here we assert the clear, actionable error; where
    protobuf IS present the same call runs the real top-k processor
    (batch-equivalence asserted in the docstring contract)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        has_protobuf = True
    except ImportError:
        has_protobuf = False

    path, events = chunked_events
    stream = dstream.file_stream(spark, path, events.schema)
    if not has_protobuf:
        with pytest.raises(RuntimeError, match="protobuf"):
            dstream.running_topk_by_key(
                stream.select("event_type", "value"), ["event_type"], "value", k=3
            )
        return
    # protobuf available: require the RocksDB provider guard too
    if "RocksDB" not in (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", "") or ""
    ):
        with pytest.raises(RuntimeError, match="RocksDB"):
            dstream.running_topk_by_key(
                stream.select("event_type", "value"), ["event_type"], "value", k=3
            )
        return
    topk = dstream.running_topk_by_key(
        stream.select("event_type", "value"), ["event_type"], "value", k=3
    )
    q = dstream.start_memory_sink(topk, "topk_state", output_mode="update")
    _await(q)
    rows = spark.table("topk_state").collect()
    assert rows, "no top-k updates emitted"
    final: dict = {}
    for r in rows:  # memory sink appends update-mode rows in batch order
        final[r.event_type] = r.topk
    expected = {
        r.event_type: ",".join(f"{v:g}" for v in r.vals)
        for r in events.groupBy("event_type")
        .agg(F.sort_array(F.collect_list("value"), asc=False).alias("_"))
        .select("event_type", F.slice("_", 1, 3).alias("vals"))
        .collect()
    }
    assert final == expected


def test_python_datasource_stream_sink(spark, chunked_events, tmp_path):
    """Streaming write through the Python DataSourceStreamWriter: every
    micro-batch commits a per-batch manifest; total rows across batch
    files equal the source table."""
    import glob
    import json as _json

    from spark_monotasks_spark.sources import custom

    custom.register_sink(spark)
    path, events = chunked_events
    out = str(tmp_path / "stream_sink")
    stream = dstream.file_stream(spark, path, events.schema).select(
        "event_id", "event_type"
    )
    q = (
        stream.writeStream.format("jsonl_dir")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    manifests = sorted(glob.glob(out + "/_BATCH_*.json"))
    assert manifests, "no batch manifests committed"
    total = sum(_json.load(open(m))["rows"] for m in manifests)
    assert total == events.count()
    back = spark.read.json(out + "/part-*.jsonl")
    assert back.count() == events.count()


def test_python_datasource_stream_source(spark, tmp_path):
    """Custom Python streaming SOURCE (external-connector parity,
    offline-exercisable unlike the Kafka jars): the offset-tracked feed
    drains completely, batches never overlap, and the union of batches
    equals the closed-form relation."""
    from spark_monotasks_spark.sources import custom

    custom.register(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n", 500)
        .option("batchSize", 120)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_src"))
        .start()
    )
    q.processAllAvailable()  # drain the finite feed (500 rows / 120-row batches)
    q.stop()
    rows = spark.table("synth_stream").collect()
    assert sorted(r.event_id for r in rows) == list(range(500))
    got = {r.event_id: (r.event_type, r.value) for r in rows}
    assert got[7] == ("error", ((7 * 37) % 997) / 10.0)


def test_stream_static_join_enriches_every_batch(spark, chunked_events):
    path, events = chunked_events
    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"),
         ("view", "engagement"), ("error", "ops"), ("signup", "growth")],
        "event_type string, category string",
    )
    stream = dstream.file_stream(spark, path, events.schema)
    joined = dstream.stream_static_join(
        stream.select("event_id", "event_type"), dim, on="event_type"
    )
    q = dstream.start_memory_sink(joined, "enriched", output_mode="append")
    _await(q)
    got = spark.table("enriched")
    assert got.count() == events.count()  # inner join, every type mapped
    cats = {r.event_type: r.category for r in got.distinct().collect()}
    assert cats["purchase"] == "revenue" and cats["error"] == "ops"


def test_streaming_upsert_sink_converges_to_latest(spark, tmp_path):
    """Micro-batched CDC feed upserted into a parquet snapshot: later
    batches replace earlier rows per key; the final snapshot equals
    last-write-wins over the whole feed."""
    import os

    src = str(tmp_path / "cdc_feed")
    os.makedirs(src)
    # batch files processed in name order with maxFilesPerTrigger=1
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, rev int"
    ).coalesce(1).write.parquet(src + "/b0")
    spark.createDataFrame(
        [(2, "B2", 2), (4, "d", 2)], "k long, v string, rev int"
    ).coalesce(1).write.parquet(src + "/b1")
    flat = str(tmp_path / "cdc_flat")
    os.makedirs(flat)
    for sub in sorted(os.listdir(src)):
        for f in os.listdir(os.path.join(src, sub)):
            if f.endswith(".parquet"):
                os.link(os.path.join(src, sub, f),
                        os.path.join(flat, f"{sub}_{f}"))
    target = str(tmp_path / "snapshot")
    stream = (
        spark.readStream.schema("k long, v string, rev int")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    q = dstream.streaming_upsert_sink(
        stream, target, on=["k"], checkpoint=str(tmp_path / "ckpt_upsert")
    ).trigger(availableNow=True).start()
    _await(q)
    snap = {r.k: (r.v, r.rev) for r in spark.read.parquet(target).collect()}
    assert snap[1] == ("a", 1) and snap[3] == ("c", 1)
    assert snap[4] == ("d", 2)
    assert snap[2][1] == 2  # key 2 replaced by the later batch


def test_versioned_append_sink_exactly_once(spark, chunked_events, tmp_path):
    """Each micro-batch commits one append version stamped with its
    batch_id; restarting with no new data adds nothing, and a replayed
    batch (at-least-once foreachBatch) is skipped by the batch_id
    watermark — exactly-once versioned ingest."""
    from spark_monotasks_spark.sources import versioned as V

    path, events = chunked_events
    table = str(tmp_path / "vtable")
    stream = dstream.file_stream(spark, path, events.schema)
    q = dstream.versioned_append_sink(
        stream, table, checkpoint=str(tmp_path / "ck")
    ).trigger(availableNow=True).start()
    _await(q)
    versions = V.list_versions(table)
    assert len(versions) == 4  # one per micro-batch
    assert V.read_version(spark, table).count() == events.count()
    assert V.last_committed_batch_id(table) == 3

    # restart from the same checkpoint, no new files: nothing commits
    q2 = dstream.versioned_append_sink(
        dstream.file_stream(spark, path, events.schema),
        table,
        checkpoint=str(tmp_path / "ck"),
    ).trigger(availableNow=True).start()
    _await(q2)
    assert V.list_versions(table) == versions

    # incremental consumer: changes since v2 == batches 3 and 4
    assert (
        V.read_changes(spark, table, 2).count()
        == V.read_version(spark, table).count()
        - V.read_version(spark, table, 2).count()
    )


def test_stream_stream_left_outer_emits_nulls_after_watermark(
    spark, tmp_path
):
    """Stream-stream LEFT OUTER join: unmatched left rows are held in
    state while they might still match, then emitted with a NULL right
    side once the watermark passes their event time — the state-timeout
    semantics an inner join never exercises.  The second availableNow
    run (same checkpoint) carries a far-future row on both sides, so
    the global watermark jumps and the pending NULLs flush."""
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)
    ldir, rdir = str(tmp_path / "L"), str(tmp_path / "R")
    left1 = spark.createDataFrame(
        [(i, t0, float(i)) for i in range(10)],
        "l_id long, l_ts timestamp, l_value double",
    )
    right1 = spark.createDataFrame(
        [(i, t0, f"t{i}") for i in range(5)],  # matches for 0..4 only
        "r_id long, r_ts timestamp, r_type string",
    )
    left1.coalesce(1).write.parquet(ldir + "/f1")
    right1.coalesce(1).write.parquet(rdir + "/f1")

    def run_once():
        ls = dstream.file_stream(spark, ldir + "/*", left1.schema)
        rs = dstream.file_stream(spark, rdir + "/*", right1.schema)
        j = dstream.stream_stream_join(
            ls, rs, "l_id", "r_id", "l_ts", "r_ts",
            watermark="10 minutes", max_skew="5 minutes", how="left_outer",
        ).select("l_id", "l_value", "r_type")
        q = dstream.start_file_sink(
            j, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        _await(q)

    run_once()
    got1 = spark.read.parquet(str(tmp_path / "out"))
    matched = {r.l_id for r in got1.filter(F.col("r_type").isNotNull()).collect()}
    assert matched == set(range(5))

    # watermark-advancing rows on BOTH sides (global watermark = min)
    far = t0 + _dt.timedelta(days=2)
    spark.createDataFrame(
        [(999, far, 0.0)], left1.schema
    ).coalesce(1).write.parquet(ldir + "/f2")
    spark.createDataFrame(
        [(999, far, "flush")], right1.schema
    ).coalesce(1).write.parquet(rdir + "/f2")
    run_once()

    got2 = spark.read.parquet(str(tmp_path / "out"))
    nulls = {r.l_id for r in got2.filter(F.col("r_type").isNull()).collect()}
    assert nulls == set(range(5, 10)), nulls  # expired unmatched rows
    # matched rows were emitted exactly once, never also as NULL
    again = {r.l_id
             for r in got2.filter(F.col("r_type").isNotNull()).collect()}
    assert set(range(5)) <= again and not (nulls & set(range(5)))


def test_streaming_dedup_ingest_matches_sequential_batches(spark, tmp_path):
    """The streaming steady-state ingest loop (streaming_dedup_ingest_
    sink) must produce EXACTLY the survivors of running the batch
    operator sequentially per micro-batch: first-arriving batch wins a
    fingerprint, min-id within a batch; the store grows append-only;
    a checkpoint restart with no new data changes nothing."""
    from spark_monotasks_spark.pipeline.dedup import incremental_exact_dedup
    from spark_monotasks_spark.sources import versioned as V

    chunks = [
        [(0, "alpha"), (1, "beta"), (2, "alpha")],        # 2 dups in-batch
        [(10, "alpha"), (11, "gamma"), (12, "gamma")],    # 10 dies vs store
        [(20, "beta"), (21, "delta"), (22, "gamma")],     # 20, 22 die
    ]
    import glob as _glob
    import shutil as _shutil

    src = tmp_path / "docs_stream"
    src.mkdir()
    stage = tmp_path / "docs_raw"
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage / f"c{i}"))
        # flatten: the file source lists plain files, not nested dirs
        part = _glob.glob(str(stage / f"c{i}" / "part-*.parquet"))[0]
        _shutil.copy(part, str(src / f"c{i}.parquet"))
    schema = spark.createDataFrame(chunks[0], "doc_id long, text string").schema

    surv_tbl = str(tmp_path / "survivors")
    store = str(tmp_path / "store")
    q = dstream.streaming_dedup_ingest_sink(
        dstream.file_stream(spark, str(src), schema),
        surv_tbl,
        store,
        checkpoint=str(tmp_path / "ck"),
    ).trigger(availableNow=True).start()
    _await(q)

    got = sorted(
        (r.doc_id, r.text) for r in V.read_version(spark, surv_tbl).collect()
    )
    # sequential batch-mode reference
    st = None
    expect = []
    for rows in chunks:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        s, delta = incremental_exact_dedup(b, st)
        expect += [(r.doc_id, r.text) for r in s.collect()]
        st = delta if st is None else st.unionByName(delta)
        st = st.localCheckpoint(eager=True)
    assert got == sorted(expect)
    assert got == [(0, "alpha"), (1, "beta"), (11, "gamma"), (21, "delta")]

    # store carries one fingerprint row per surviving text, per batch won
    srows = spark.read.parquet(store)
    assert srows.select("fp").distinct().count() == 4
    assert {r.batch_id for r in srows.collect()} == {0, 1, 2}

    # restart from the same checkpoint with no new files: exactly-once
    q2 = dstream.streaming_dedup_ingest_sink(
        dstream.file_stream(spark, str(src), schema),
        surv_tbl,
        store,
        checkpoint=str(tmp_path / "ck"),
    ).trigger(availableNow=True).start()
    _await(q2)
    assert V.read_version(spark, surv_tbl).count() == 4
    assert spark.read.parquet(store).count() == srows.count()


def test_streaming_neardup_ingest_matches_sequential_batches(spark, tmp_path):
    """NEAR-dup streaming ingest == the batch operator run
    sequentially per micro-batch: history hits kill whole clusters,
    min-id survives within clean clusters, the melted signature store
    grows batch-stamped; a checkpoint restart with no new data changes
    nothing."""
    import glob as _glob
    import shutil as _shutil

    from spark_monotasks_spark.pipeline.dedup import incremental_minhash_dedup
    from spark_monotasks_spark.sources import versioned as V

    base = "the quick brown fox jumps over the lazy dog near the river"
    fresh = "completely different content about shuffle partitioning plans"
    chunks = [
        [(0, base + " bank"), (1, "unrelated historical notes on query engines and storage")],
        # 10 near-dups history doc 0 -> dies; 11 ~ 12 within batch -> 11 wins
        [(10, base + " bend"), (11, fresh + " charts"), (12, fresh + " chart")],
        [(20, "entirely novel text with no relatives anywhere at all")],
    ]
    src = tmp_path / "nd_stream"
    src.mkdir()
    stage = tmp_path / "nd_raw"
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage / f"c{i}"))
        part = _glob.glob(str(stage / f"c{i}" / "part-*.parquet"))[0]
        _shutil.copy(part, str(src / f"c{i}.parquet"))
    schema = spark.createDataFrame(chunks[0], "doc_id long, text string").schema

    surv_tbl = str(tmp_path / "nd_survivors")
    store = str(tmp_path / "nd_store")
    q = dstream.streaming_neardup_ingest_sink(
        dstream.file_stream(spark, str(src), schema),
        surv_tbl,
        store,
        checkpoint=str(tmp_path / "nd_ck"),
    ).trigger(availableNow=True).start()
    _await(q)

    got = sorted(r.doc_id for r in V.read_version(spark, surv_tbl).collect())
    st = None
    expect = []
    for rows in chunks:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        s, delta = incremental_minhash_dedup(b, st)
        expect += [r.doc_id for r in s.collect()]
        st = delta if st is None else st.unionByName(delta)
        st = st.localCheckpoint(eager=True)
    assert got == sorted(expect)
    assert 10 not in got and 12 not in got  # history hit + in-batch dup die
    assert {0, 1, 11, 20} <= set(got)
    srows = spark.read.parquet(store)
    assert {r.batch_id for r in srows.collect()} == {0, 1, 2}

    # restart from the same checkpoint with no new files: exactly-once
    q2 = dstream.streaming_neardup_ingest_sink(
        dstream.file_stream(spark, str(src), schema),
        surv_tbl,
        store,
        checkpoint=str(tmp_path / "nd_ck"),
    ).trigger(availableNow=True).start()
    _await(q2)
    assert V.read_version(spark, surv_tbl).count() == len(got)
    assert spark.read.parquet(store).count() == srows.count()


def test_streaming_split_router_matches_batch_and_never_leaks(spark, tmp_path):
    """The split-router sink must (a) assign exactly what the batch
    operator assigns — the split is a pure hash, so batches and
    streams cannot disagree; (b) route exact duplicates arriving in
    DIFFERENT micro-batches to the same split; (c) replay from the
    same checkpoint without duplicating any split table."""
    import glob as _glob
    import shutil as _shutil

    from spark_monotasks_spark.pipeline.text import leakage_safe_split
    from spark_monotasks_spark.sources import versioned as V

    chunks = [
        [(i, f"document body {i}") for i in range(0, 40)],
        # batch 2 re-sends doc 3's exact text under a new id, plus new docs
        [(103, "document body 3")] + [(i, f"document body {i}") for i in range(40, 80)],
    ]
    src = tmp_path / "split_stream"
    src.mkdir()
    stage = tmp_path / "split_raw"
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage / f"c{i}"))
        part = _glob.glob(str(stage / f"c{i}" / "part-*.parquet"))[0]
        _shutil.copy(part, str(src / f"c{i}.parquet"))
    schema = spark.createDataFrame(chunks[0], "doc_id long, text string").schema

    out = str(tmp_path / "routed")
    q = dstream.streaming_split_router_sink(
        dstream.file_stream(spark, str(src), schema),
        out,
        checkpoint=str(tmp_path / "ck_split"),
    ).trigger(availableNow=True).start()
    _await(q)

    routed = {}
    for split in ("train", "val", "test"):
        for r in V.read_version(spark, f"{out}/{split}").collect():
            assert r.doc_id not in routed  # splits are disjoint
            routed[r.doc_id] = split
    all_rows = [r for c in chunks for r in c]
    assert len(routed) == len(all_rows)

    # (a) identical to the batch assignment over the full corpus
    full = spark.createDataFrame(all_rows, "doc_id long, text string")
    expect = {r.doc_id: r.split for r in leakage_safe_split(full).collect()}
    assert routed == expect

    # (b) cross-batch exact duplicates share a split
    assert routed[103] == routed[3]

    # (c) checkpoint replay with no new files adds nothing
    q2 = dstream.streaming_split_router_sink(
        dstream.file_stream(spark, str(src), schema),
        out,
        checkpoint=str(tmp_path / "ck_split"),
    ).trigger(availableNow=True).start()
    _await(q2)
    total = sum(
        V.read_version(spark, f"{out}/{s}").count()
        for s in ("train", "val", "test")
    )
    assert total == len(all_rows)


def test_stream_running_state_is_multi_batch(spark):
    """The stream_running_state catalog entry's cross-batch claim must
    be real: with the 3-file staging a user's events span micro-batches,
    so the final per-user state only equals the batch GROUP BY sum if
    state actually carried across batches (a reset-per-batch bug would
    collapse the max to the largest single-batch subtotal).  Checked in
    exact integer cents at sf0.001."""
    from spark_monotasks_spark.queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"
    out = QUERY_REGISTRY["stream_running_state"](spark, sf)
    got = {r.user_id: r.total_value for r in out.collect()}
    batch = {
        r.user_id: r.tv
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0, 2
            ).alias("tv")
        )
        .collect()
    }
    assert got == batch
