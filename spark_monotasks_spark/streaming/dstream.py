"""DStream-capability surface on Structured Streaming (SURVEY §2.10).

The reference's model (streaming/.../dstream/DStream.scala:74) is
processing-time micro-batches: no event time, no watermarks, no
late-data handling.  Structured Streaming is a strict superset; this
module maps each DStream operator family onto it:

| reference                                   | here                       |
|---------------------------------------------|----------------------------|
| map/flatMap/filter (DStream.scala:442-476)  | plain DataFrame ops        |
| window(win, slide) (DStream.scala:640)      | ``windowed_agg``           |
| reduceByKeyAndWindow (PairDStreamFunctions.scala:124-324) | ``reduce_by_key_and_window`` |
| countByValueAndWindow (DStream.scala:665-726)| ``count_by_value_and_window`` |
| updateStateByKey (PairDStreamFunctions.scala:350-424, StateDStream.scala:29) | ``update_state_by_key`` (applyInPandasWithState) |
| transform/foreachRDD (DStream.scala:552,:613)| ``for_each_batch``        |
| sources: file/socket (FileInputDStream, SocketInputDStream) | ``file_stream``/``socket_stream``/``rate_stream`` |
| saveAs*Files sinks                          | ``start_file_sink``        |

Event-time watermarking is exposed (beyond-reference, clearly optional
arguments) because at scale unbounded state is the first thing that
kills a streaming job.
"""

from __future__ import annotations

import functools
from typing import Any, Callable, Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# --- sources ---------------------------------------------------------------

def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File source (FileInputDStream.scala): new files per micro-batch.
    ``max_files_per_trigger=1`` reproduces the one-batch-per-file rhythm
    the reference's tests rely on."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .format(fmt)
        .load(path)
    )


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Socket text source (SocketInputDStream.scala) — column ``value``."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic source (reference queueStream/raw equivalents for tests)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


#: Maven coordinate a deployment adds (``spark.jars.packages``) to light
#: up :func:`kafka_stream`.  Match the artifact's Scala/Spark suffix to
#: the cluster's Spark build.
KAFKA_PACKAGE = "org.apache.spark:spark-sql-kafka-0-10_2.13:4.0.0"


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka source (reference external/kafka KafkaUtils.scala:44
    createStream / KafkaRDD partition-per-Kafka-partition model).

    Structured Streaming's kafka source keeps the same 1:1
    Kafka-partition → Spark-partition mapping and exact-offset-range
    batches the reference's DirectKafkaInputDStream pioneered, plus
    checkpointed offset tracking.  Returns the standard kafka schema
    (key/value binary, topic, partition, offset, timestamp).

    The connector is an EXTERNAL package (same as the reference, where
    kafka lives under external/, not core).  This container has no
    network/maven cache, so in this repo the function raises a clear
    error pointing at :data:`KAFKA_PACKAGE`; with the package on the
    classpath it works as-is.  ``max_offsets_per_trigger`` bounds batch
    size — the backpressure knob that keeps 100 TB/day topics from
    producing unbounded first batches.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    try:
        return reader.load()
    except Exception as exc:  # surface the actionable fix, keep the cause
        raise RuntimeError(
            "kafka connector not on the classpath; start Spark with "
            f"spark.jars.packages={KAFKA_PACKAGE} (offline container: "
            "see COVERAGE.md §2.10)"
        ) from exc


#: The kafka source's fixed output schema (Structured Streaming kafka
#: integration; same fields the reference's KafkaRDD exposed as
#: MessageAndMetadata).  ``kafka_decode`` accepts ANY frame with these
#: columns, which is what makes the decode path testable offline.
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)


def kafka_decode(
    records: DataFrame,
    value_schema: str | None = None,
    drop_corrupt: bool = False,
) -> DataFrame:
    """Decode a kafka record batch/stream: key/value binary → UTF-8
    strings, keeping the (topic, partition, offset, timestamp) metadata
    the reference's MessageAndMetadata carried.  With ``value_schema``,
    the value additionally parses as JSON into typed columns (the
    standard payload step after any kafka source); malformed JSON yields
    NULL fields (``drop_corrupt=True`` filters such rows instead —
    corrupt records are data at streaming scale, never task failures).

    Works identically on the live connector's output and on any frame
    with :data:`KAFKA_RECORD_SCHEMA` — the whole decode path is covered
    by offline tests even though the socket itself needs the external
    package (tests/test_streaming.py::test_kafka_decode_*).
    """
    out = records.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic",
        "partition",
        "offset",
        "timestamp",
    )
    if value_schema is not None:
        if drop_corrupt:
            # PERMISSIVE from_json yields a struct of NULL fields for bad
            # JSON (not a NULL struct), so corruption must be detected via
            # the dedicated corrupt-record column
            ext = value_schema + ", _corrupt_record string"
            out = (
                out.withColumn(
                    "payload",
                    F.from_json(
                        "value", ext,
                        {"columnNameOfCorruptRecord": "_corrupt_record"},
                    ),
                )
                .filter(F.col("payload._corrupt_record").isNull())
            )
            return out.select(
                "key", "topic", "partition", "offset", "timestamp", "payload.*"
            ).drop("_corrupt_record")
        out = out.withColumn("payload", F.from_json("value", value_schema))
        out = out.select(
            "key", "topic", "partition", "offset", "timestamp", "payload.*"
        )
    return out


# --- windowed aggregations -------------------------------------------------

def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    aggs: Sequence[Column],
    keys: Sequence[str] = (),
    slide: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """window(win, slide) + aggregation (DStream.scala:640-726).

    tumbling = ``slide is None`` (win == slide in reference terms);
    sliding = ``slide < window``.  The reference slices by *arrival*
    batch; here windows are event-time over ``ts_col`` — a strict
    improvement the reference could not express.  ``watermark`` bounds
    state (required for append-mode sinks at scale)."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    out = df.groupBy(win.alias("window"), *keys).agg(*aggs)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[c for c in out.columns if c != "window"],
    )


def session_windowed_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: Sequence[Column],
    keys: Sequence[str] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based session windows (``F.session_window``): a session
    closes when ``gap`` passes with no event for the key — the streaming
    twin of the batch ``events_sessionize`` query (which derives the
    same sessions with a lag-window over event time).

    Dynamic windows: unlike tumbling/sliding, session extents depend on
    the DATA, so state for a key stays open until watermark passes its
    last event + gap — set ``watermark`` in production or state grows
    with open sessions forever."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = F.session_window(ts_col, gap)
    out = df.groupBy(win.alias("session"), *keys).agg(*aggs)
    return out.select(
        F.col("session.start").alias("session_start"),
        F.col("session.end").alias("session_end"),
        *[c for c in out.columns if c != "session"],
    )


def reduce_by_key_and_window(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    window: str,
    slide: str | None = None,
    watermark: str | None = None,
    reduce_fn: Callable[[str], Column] = F.sum,
    out_col: str | None = None,
) -> DataFrame:
    """reduceByKeyAndWindow (PairDStreamFunctions.scala:124-324).

    ``reduce_fn`` is any associative aggregate builder (F.sum default;
    F.min/F.max/F.count match the reference's arbitrary reduceFunc
    surface).  The reference's incremental ``invReduceFunc`` variant is
    the state store's job in Structured Streaming — same result,
    managed state.  Window mechanics delegate to :func:`windowed_agg`
    so watermark/flatten semantics live in exactly one place."""
    name = out_col or f"{reduce_fn.__name__}_{value_col}"
    return windowed_agg(
        df,
        ts_col,
        window,
        aggs=[reduce_fn(value_col).alias(name)],
        keys=key_cols,
        slide=slide,
        watermark=watermark,
    ).drop("window_end")


def count_by_value_and_window(
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    window: str,
    slide: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """countByValueAndWindow (DStream.scala:711) — delegates to
    :func:`windowed_agg` (the values ARE the grouping keys)."""
    return windowed_agg(
        df,
        ts_col,
        window,
        aggs=[F.count("*").alias("n")],
        keys=value_cols,
        slide=slide,
        watermark=watermark,
    ).drop("window_end")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    max_skew: str = "1 hour",
    how: str = "inner",
    before: str | None = None,
    after: str | None = None,
) -> DataFrame:
    """join of two streams (PairDStreamFunctions.scala:482 ``join`` —
    per-batch RDD cogroup in the reference).

    Structured Streaming generalizes the reference's same-batch-only
    join: rows pair across micro-batches, with the watermark + the
    event-time range condition bounding the buffered state (without the
    range, stream-stream state grows forever — the unbounded-state
    failure mode the reference sidestepped by only joining aligned
    batches).  ``max_skew`` is how far the two sides' event times may
    differ and still match — the knob that sizes state at 100 TB/day.
    ``before``/``after`` override the two range bounds independently
    (right_ts ∈ [left_ts − before, left_ts + after]) — e.g. click→
    purchase attribution wants ``before='0 seconds'`` so only purchases
    AFTER the click match.

    Column names must be disjoint across sides (rename before calling),
    matching the reference's K/V-pair contract where both sides share
    only the key.
    """
    lo = before if before is not None else max_skew
    hi = after if after is not None else max_skew
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.expr(f"{left_ts} - INTERVAL {lo}"))
        & (F.col(right_ts) <= F.expr(f"{left_ts} + INTERVAL {hi}"))
    )
    return l.join(r, on=cond, how=how)


def stream_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming deduplication — exactly-once delivery of at-least-once
    inputs (the reference had no streaming dedup; its receiver-based
    DStreams replayed duplicates on recovery, SURVEY §2.10).

    With ``ts_col``: `dropDuplicatesWithinWatermark` — state for a key
    is DROPPED once the watermark passes it, so state is bounded by
    (keys arriving within the watermark window), the only shape that
    survives unbounded streams.  Duplicates separated by more than the
    watermark are NOT caught — that is the documented contract, the
    price of bounded state.  Without ``ts_col``: global
    `dropDuplicates`, state grows with distinct keys forever — only for
    bounded key domains.
    """
    if ts_col is not None:
        return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return stream.dropDuplicates(list(keys))


# --- updateStateByKey ------------------------------------------------------

def update_state_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    state_update: Callable[[list[float], float | None], float] | None = None,
) -> DataFrame:
    """updateStateByKey (PairDStreamFunctions.scala:350-424) — running
    per-key state across micro-batches.

    The reference cogroups *all* existing state with each batch
    (StateDStream.scala:29 — full state scan, no timeouts); here state
    lives in the state store keyed by group, updated only for keys
    present in the batch — same observable semantics for the
    sum-like updates the reference tests use, O(batch) not O(state).

    ``state_update(values, prev) -> new`` folds a batch's values into
    the previous state (default: running sum).  Output per batch:
    (keys..., state) in update mode.
    """
    update = state_update or (lambda values, prev: (prev or 0.0) + sum(values))

    out_fields = [df.schema[k] for k in key_cols] + [
        T.StructField("state", T.DoubleType())
    ]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType([T.StructField("acc", T.DoubleType())])

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        values: list[float] = []
        for pdf in pdfs:
            # NULLs surface as NaN (float dtype) or None (object dtype);
            # either would poison the running state — skip them, matching
            # aggregate null semantics
            col = pd.to_numeric(pdf[value_col], errors="coerce")
            values.extend(float(v) for v in col.dropna())
        prev = state.get[0] if state.exists else None
        new = update(values, prev)
        state.update((new,))
        yield pd.DataFrame(
            {**{k: [v] for k, v in zip(key_cols, key)}, "state": [new]}
        )

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,  # reference has no timeouts
    )



def running_topk_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 5,
) -> DataFrame:
    """Custom stateful operator on the MODERN state API
    (``transformWithStateInPandas`` + ``StatefulProcessor``, the Spark
    4.x successor to applyInPandasWithState): per key, maintain the
    top-k values seen across all micro-batches.

    Beyond-reference by design: the reference's DStream surface caps at
    updateStateByKey (covered by :func:`update_state_by_key`); this
    entry exercises typed value state (`getValueState`) with bounded
    per-key state (k doubles) — the state-store footprint is O(keys·k)
    no matter how much data streams past, which is what keeps a
    100 TB/day stream's checkpoint small.  Emits (keys..., topk) per
    updated key each batch, topk serialized as a comma string (scalar
    output contract).

    Runtime requirements (both checked up front with clear errors):
    the ``protobuf`` package (the transformWithState state-server
    protocol is protobuf-framed — absent in this container, so the
    operator is exercisable but not CI-exercised here, like the Kafka
    connector) and the RocksDB state store provider.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(its state-server protocol is protobuf-framed); install "
            "protobuf>=4 on driver and executors. update_state_by_key "
            "(applyInPandasWithState) provides equivalent running-state "
            "semantics without that dependency."
        ) from e
    spark = df.sparkSession
    provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    ) or ""
    if "RocksDB" not in provider:
        raise RuntimeError(
            "transformWithStateInPandas requires the RocksDB state store: "
            "set spark.sql.streaming.stateStore.providerClass="
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_fields = [df.schema[c] for c in key_cols] + [
        T.StructField("topk", T.StringType())
    ]
    out_schema = T.StructType(out_fields)
    keys = list(key_cols)
    val = value_col
    kk = int(k)

    class _TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("topk", "vals array<double>")

        def handleInputRows(self, key, rows, timerValues):
            cur = list(self._state.get()[0]) if self._state.exists() else []
            for pdf in rows:
                col = pd.to_numeric(pdf[val], errors="coerce").dropna()
                cur.extend(float(v) for v in col)
            cur = sorted(cur, reverse=True)[:kk]
            self._state.update((cur,))
            yield pd.DataFrame(
                {
                    **{c: [v] for c, v in zip(keys, key)},
                    "topk": [",".join(f"{v:g}" for v in cur)],
                }
            )

        def close(self) -> None:
            pass

    return df.groupBy(*keys).transformWithStateInPandas(
        _TopK(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


# --- sinks -----------------------------------------------------------------

def stream_static_join(
    stream: DataFrame,
    static: DataFrame,
    on: Sequence[str] | str,
    how: str = "inner",
    broadcast_static: bool = True,
) -> DataFrame:
    """Stream-static enrichment join (the DStream-era
    ``transform(rdd => rdd.join(dimRDD))`` pattern,
    DStream.scala:552): each micro-batch joins against a BATCH
    relation.  No state store is involved — the static side is re-read
    per trigger (so dim updates are picked up), and with
    ``broadcast_static`` the join never shuffles the stream.  At
    100 TB/day this is the standard dimension-enrichment shape."""
    right = F.broadcast(static) if broadcast_static else static
    return stream.join(right, on=on, how=how)


def streaming_upsert_sink(
    stream: DataFrame,
    target_path: str,
    on: Sequence[str],
    checkpoint: str,
) -> DataStreamWriter:
    """Streaming CDC-upsert materialization: every micro-batch upserts
    into a parquet snapshot through operators.merge.merge_upsert
    (latest batch row wins per key within a batch via max-seq
    collapse is the caller's concern; across batches, later batches
    replace earlier keys).  foreachBatch is the right hook because
    sinks with merge semantics need batch-scoped transactions —
    append-mode file sinks cannot express "replace this key".

    Scale: the snapshot rewrite is bounded by snapshot size, and the
    anti-join side is the (small) batch — broadcast.  A production
    system would partition the snapshot and rewrite only touched
    partitions; the single-file form keeps the demo honest."""
    from spark_monotasks_spark.operators.merge import merge_upsert

    schema = stream.schema

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        import os

        if os.path.exists(target_path):
            base = spark.read.schema(schema).parquet(target_path)
            merged = merge_upsert(base, batch, on=list(on))
        else:
            merged = batch
        # localCheckpoint materializes BEFORE the overwrite truncates
        # the directory being read (classic read-overwrite hazard)
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            target_path
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
    )


def _dedup_ingest_sink(
    stream: DataFrame,
    survivors_path: str,
    store_path: str,
    checkpoint: str,
    dedup: Callable[[DataFrame, DataFrame | None], tuple[DataFrame, DataFrame]],
) -> DataStreamWriter:
    """The exactly-once ingest loop shared by the exact and near-dup
    sinks: ``dedup(batch, store)`` scores each micro-batch against the
    store rows of EARLIER batches and returns ``(survivors, delta)``;
    survivors commit once per ``batch_id`` through the versioned
    manifest, and the batch-stamped delta appends to the store unless a
    replay already wrote it."""
    import os

    from spark_monotasks_spark.sources import versioned as V

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        store = None
        have_store = os.path.exists(store_path)
        if have_store:
            store = spark.read.parquet(store_path).filter(
                F.col("batch_id") < batch_id
            )
        survivors, delta = dedup(batch, store)
        if batch_id > V.last_committed_batch_id(survivors_path):
            V.write_version(
                survivors, survivors_path, mode="append", batch_id=batch_id
            )
        if have_store:
            replayed = (
                spark.read.parquet(store_path)
                .filter(F.col("batch_id") == batch_id)
                .limit(1)
                .count()
            )
            if replayed:
                return
        delta.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(store_path)

    return stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )


def streaming_dedup_ingest_sink(
    stream: DataFrame,
    survivors_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataStreamWriter:
    """The PRODUCTION steady-state ingest loop as a stream (r6): every
    micro-batch dedups against the persistent fingerprint store built
    by all PREVIOUS batches (pipeline.dedup.incremental_exact_dedup —
    history text is never rescanned), commits its survivors, and
    appends its store delta.  This is the streaming form of the
    ``incremental_dedup_batch`` catalog entry — the loop a corpus
    ingest actually runs.

    Exactly-once under foreachBatch's at-least-once replay, by
    construction rather than hope:

    - survivors commit through the versioned manifest
      (sources/versioned.py) stamped with ``batch_id`` — a replayed
      batch whose commit already exists is skipped;
    - the store is APPEND-ONLY with every row stamped ``batch_id``,
      and the probe reads ``batch_id < current`` — so a replay after a
      crash *between* the two writes scores against exactly the
      pre-batch store state (probing the full store would make the
      replayed batch self-match and silently drop its survivors);
    - the store append itself is skipped when rows for this
      ``batch_id`` already exist.

    Scale shape is the batch operator's: the store join ships 16-byte
    fingerprints + ids only; persist the store bucketed by ``fp`` to
    co-locate successive probes.  Survivor semantics across batches =
    first-arriving batch wins a fingerprint, min-``id_col`` within a
    batch — identical to running the batch operator sequentially
    (asserted batch-vs-stream in tests/test_streaming.py)."""
    from spark_monotasks_spark.pipeline.dedup import incremental_exact_dedup

    return _dedup_ingest_sink(
        stream, survivors_path, store_path, checkpoint,
        functools.partial(
            incremental_exact_dedup, id_col=id_col, text_col=text_col
        ),
    )


def streaming_neardup_ingest_sink(
    stream: DataFrame,
    survivors_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    min_matches: int = 4,
    family: str = "xxhash64",
) -> DataStreamWriter:
    """The NEAR-dup twin of :func:`streaming_dedup_ingest_sink`: every
    micro-batch runs pipeline.dedup.incremental_minhash_dedup against
    the persistent melted ``(fam, h, id)`` signature store — within-
    batch transitive clustering, ≥min_matches-of-num_hashes history
    vote, contaminated-cluster elimination, min-id survivor — then
    commits survivors exactly-once (versioned manifest) and appends
    its batch-stamped signature delta.  Same replay construction:
    the probe reads ``batch_id < current``, so at-least-once
    foreachBatch replays score against exactly the pre-batch store.

    Scale shape is the batch operator's (melted keys + ids only in the
    store join; star-CC on candidate pairs); persist the store
    bucketed by ``(fam, h)`` to skip the history shuffle."""
    from spark_monotasks_spark.pipeline.dedup import incremental_minhash_dedup

    return _dedup_ingest_sink(
        stream, survivors_path, store_path, checkpoint,
        functools.partial(
            incremental_minhash_dedup,
            id_col=id_col,
            text_col=text_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            min_matches=min_matches,
            family=family,
        ),
    )


def for_each_batch(
    df: DataFrame, fn: Callable[[DataFrame, int], None]
) -> DataStreamWriter:
    """transform/foreachRDD (DStream.scala:552,:613) — arbitrary logic
    per micro-batch."""
    return df.writeStream.foreachBatch(fn)


def start_memory_sink(
    df: DataFrame, name: str, output_mode: str = "append", available_now: bool = True
):
    """In-memory table sink (test harness — mirrors the reference's
    batch-by-batch output assertion pattern, TestSuiteBase.scala)."""
    w = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_file_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
    available_now: bool = True,
):
    """saveAs*Files (DStream.scala:613-800) → file sink + checkpoint."""
    w = (
        df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def versioned_append_sink(
    stream: DataFrame, table_path: str, checkpoint: str
) -> DataStreamWriter:
    """Exactly-once streaming ingest into a versioned snapshot table
    (sources/versioned.py): each micro-batch commits as one append
    version stamped with its batch_id, and replayed batches (foreachBatch
    is at-least-once after recovery) are skipped when their batch_id is
    already committed — the manifest store doubles as the sink's
    transaction log, so downstream consumers get snapshot-isolated,
    time-travelable, incrementally-readable (read_changes) output."""
    from spark_monotasks_spark.sources import versioned as V

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= V.last_committed_batch_id(table_path):
            return  # replay after recovery — already committed
        V.write_version(batch, table_path, mode="append", batch_id=batch_id)

    return stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )


def streaming_snapshot_sink(
    stream: DataFrame,
    base: str,
    checkpoint: str,
    tables_fn,
) -> "DataStreamWriter":
    """Exactly-once streaming ingest into SEVERAL versioned tables with
    per-micro-batch ATOMIC cross-table commits
    (sources.versioned.snapshot_commit): ``tables_fn(batch)`` returns
    the dict of per-table frames (e.g. a raw append plus its rollup)
    and ONE txn manifest commits them all — so downstream readers can
    never observe the raw table's batch without its rollup, the
    consistency hole streaming_split_router_sink's per-table manifests
    tolerate (replay heals a partial crash there; here a partial state
    is unobservable in the first place).  Replayed batches
    (foreachBatch is at-least-once after recovery) are skipped via the
    single multi-table watermark ``last_snapshot_batch_id``.  The
    batch is persisted once so N table builds share one materialization."""
    from spark_monotasks_spark.sources import versioned as V

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= V.last_snapshot_batch_id(base):
            return  # replay after recovery — the whole txn committed
        batch = batch.persist()
        try:
            V.snapshot_commit(tables_fn(batch), base, batch_id=batch_id)
        finally:
            batch.unpersist()

    return stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )


def streaming_split_router_sink(
    stream: DataFrame,
    out_base: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    cluster_col: str | None = None,
    weights: tuple[int, int, int] = (8, 1, 1),
    seed: str = "split1",
) -> DataStreamWriter:
    """Route an ingest stream into ``train`` / ``val`` / ``test``
    versioned tables under ``out_base`` with the LEAKAGE-SAFE
    assignment (pipeline.text.leakage_safe_split): the split is a pure
    md5 function of the duplicate-cluster key, so two copies of one
    document land in the SAME split even when they arrive in different
    micro-batches, months apart — no cross-batch state needed, the
    no-leakage guarantee is carried by the hash itself.

    Exactly-once under foreachBatch's at-least-once replay: each split
    commits through its own versioned manifest stamped ``batch_id``
    (sources/versioned.py), so a replay skips every split directory it
    already committed — including the partial-crash case where only
    some of the three writes landed.  The batch is persisted once and
    routed three ways; at 100 TB the assignment adds one codegen
    projection to the ingest scan."""
    from spark_monotasks_spark.pipeline.text import leakage_safe_split
    from spark_monotasks_spark.sources import versioned as V

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        assigned = batch.join(
            leakage_safe_split(
                batch, id_col, text_col, cluster_col, weights, seed
            ),
            on=id_col,
        ).persist()
        try:
            for split in ("train", "val", "test"):
                path = f"{out_base}/{split}"
                if batch_id > V.last_committed_batch_id(path):
                    V.write_version(
                        assigned.filter(F.col("split") == split).drop("split"),
                        path,
                        mode="append",
                        batch_id=batch_id,
                    )
        finally:
            assigned.unpersist()

    return stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
