"""SQLContext facade (api.py — reference SQLContext.scala surface) and
sources/io (SaveMode semantics, JSON inference) round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_monotasks_spark.api import SQLContext
from spark_monotasks_spark.sources import io as sio


@pytest.fixture()
def ctx(spark):
    return SQLContext(spark)


def test_register_and_sql(ctx, spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    ctx.register_data_frame_as_table(df, "t_api")
    got = ctx.sql("SELECT v FROM t_api WHERE k = 2").collect()
    assert [r.v for r in got] == ["b"]
    assert "t_api" in ctx.table_names()
    assert ctx.table("t_api").count() == 2
    ctx.drop_temp_table("t_api")
    assert "t_api" not in ctx.table_names()


def test_cache_roundtrip(ctx, spark):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    ctx.register_data_frame_as_table(df, "t_cache")
    ctx.cache_table("t_cache")
    assert ctx.is_cached("t_cache")
    assert ctx.sql("SELECT sum(x) AS s FROM t_cache").first().s == 9900
    ctx.uncache_table("t_cache")
    assert not ctx.is_cached("t_cache")
    ctx.drop_temp_table("t_cache")


def test_register_function_udf(ctx):
    ctx.register_function("plus_one_api", lambda x: x + 1, "long")
    assert ctx.sql("SELECT plus_one_api(41) AS v").first().v == 42


def test_function_registry_resolves(ctx):
    f = ctx.function("ucase")  # Hive-era alias
    df = ctx.one_row_relation().select(f(F.lit("ab")).alias("u"))
    assert df.first().u == "AB"
    with pytest.raises(KeyError, match="not in the reference-parity registry"):
        ctx.function("no_such_fn")


def test_one_row_relation(ctx):
    assert ctx.sql("SELECT 1 AS one").first().one == 1
    assert ctx.one_row_relation().count() == 1


def test_conf_set_get(ctx):
    ctx.set_conf("spark.sql.cbo.enabled", "false")
    assert ctx.get_conf("spark.sql.cbo.enabled") == "false"


# --- sources / sinks -------------------------------------------------------

def test_json_roundtrip_with_inference(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "k long, v string, x double"
    )
    path = str(tmp_path / "j")
    sio.write_json(df, path)
    back = sio.read_json(spark, path)  # schema inferred
    assert {f.name: f.dataType.typeName() for f in back.schema.fields} == {
        "k": "long", "v": "string", "x": "double",
    }
    assert back.count() == 2


def test_save_modes(spark, tmp_path):
    df = spark.range(5)
    path = str(tmp_path / "p")
    sio.write_parquet(df, path)
    # ErrorIfExists (default) refuses a second write
    with pytest.raises(Exception, match="already exists"):
        sio.write_parquet(df, path)
    # Ignore is a silent no-op
    sio.write_parquet(spark.range(99), path, mode=sio.SaveMode.IGNORE)
    assert spark.read.parquet(path).count() == 5
    # Append doubles, Overwrite resets
    sio.write_parquet(df, path, mode="append")
    assert spark.read.parquet(path).count() == 10
    sio.write_parquet(df, path, mode="overwrite")
    assert spark.read.parquet(path).count() == 5


def test_text_and_csv(spark, tmp_path):
    tpath = str(tmp_path / "t")
    sio.write_text(
        spark.createDataFrame([("hello",), ("world",)], "value string"), tpath
    )
    assert sorted(r.value for r in sio.read_text(spark, tpath).collect()) == [
        "hello", "world",
    ]
    cpath = str(tmp_path / "c")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    sio.write_csv(df, cpath)
    back = sio.read_csv(spark, cpath)
    assert sorted((r.k, r.v) for r in back.collect()) == [(1, "x"), (2, "y")]


def test_bucketed_table_join_avoids_shuffle(spark, tmp_path):
    """save_as_table(bucket_by=...): a self-join on the bucket key must
    not re-shuffle either side (SortMergeJoin over bucketed scans) —
    the co-located-join lever called out in SCALE.md."""
    df = spark.range(1000).withColumn("v", F.col("id") % 7)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        sio.save_as_table(df, "t_bucketed", mode="overwrite", bucket_by=(4, ["id"]))
        # disable broadcast so the join must use the bucketed layout
        # (broadcast would hide whether bucketing removed the shuffle)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = spark.table("t_bucketed")
        joined = t.alias("a").join(t.alias("b"), on="id")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "ShuffleExchange" not in plan and "shuffle" not in plan.lower(), plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS t_bucketed")


def test_save_mode_aliases():
    assert sio.SaveMode("error") is sio.SaveMode.ERROR_IF_EXISTS
    assert sio.SaveMode("ErrorIfExists") is sio.SaveMode.ERROR_IF_EXISTS
    assert sio.SaveMode("Overwrite") is sio.SaveMode.OVERWRITE
    assert sio.SaveMode("default") is sio.SaveMode.ERROR_IF_EXISTS


def test_substr_two_arg_form(spark, ctx):
    f = ctx.function("substr")
    df = spark.range(1).select(
        f(F.lit("abcdef"), 3).alias("tail"),
        f(F.lit("abcdef"), 2, 3).alias("mid"),
    )
    r = df.first()
    assert r.tail == "cdef" and r.mid == "bcd"


def test_insert_into_dynamic_partition_sql(spark):
    """Hive-insert parity (reference hive/execution/InsertIntoHiveTable
    .scala: static spec, dynamic partitions, per-partition overwrite):
    the same three INSERT shapes against a partitioned managed table,
    then read back with partition pruning."""
    spark.sql("DROP TABLE IF EXISTS t_part")
    spark.sql(
        "CREATE TABLE t_part (k INT, v STRING) USING parquet "
        "PARTITIONED BY (dt STRING)"
    )
    try:
        # static partition spec
        spark.sql(
            "INSERT INTO t_part PARTITION (dt='2024-01-01') "
            "VALUES (1, 'a'), (2, 'b')"
        )
        # dynamic partition spec (value comes from the SELECT)
        spark.sql(
            "INSERT INTO t_part PARTITION (dt) "
            "SELECT 3 AS k, 'c' AS v, '2024-01-02' AS dt"
        )
        # static-spec OVERWRITE must replace only its own partition
        spark.sql(
            "INSERT OVERWRITE TABLE t_part PARTITION (dt='2024-01-01') "
            "VALUES (9, 'z')"
        )
        rows = sorted((r.k, r.v, r.dt) for r in spark.table("t_part").collect())
        assert rows == [(3, "c", "2024-01-02"), (9, "z", "2024-01-01")]
        parts = {r[0] for r in spark.sql("SHOW PARTITIONS t_part").collect()}
        assert parts == {"dt=2024-01-01", "dt=2024-01-02"}
        # the dt filter must prune at planning time, not post-scan
        pruned = spark.table("t_part").filter("dt = '2024-01-02'")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "dt" in plan, plan
        assert [r.k for r in pruned.collect()] == [3]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_part")


def test_binary_files_source(spark, tmp_path):
    """binaryFile raw-media ingest (sources/io.read_binary_files):
    content bytes round-trip exactly, the glob filters at listing time,
    and recursive lookup reaches nested dirs."""
    (tmp_path / "a.png").write_bytes(b"\x89PNG\r\n\x1a\n" + b"x" * 10)
    (tmp_path / "b.wav").write_bytes(b"RIFF" + b"y" * 20)
    nested = tmp_path / "sub"
    nested.mkdir()
    (nested / "c.png").write_bytes(b"\x89PNG\r\n\x1a\n" + b"z" * 5)

    flat = sio.read_binary_files(spark, str(tmp_path), glob="*.png")
    rows = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in flat.collect()}
    assert set(rows) == {"a.png"}
    assert rows["a.png"] == b"\x89PNG\r\n\x1a\n" + b"x" * 10
    assert {f.name for f in flat.schema.fields} == {
        "path", "modificationTime", "length", "content"
    }

    rec = sio.read_binary_files(spark, str(tmp_path), glob="*.png",
                                recursive=True)
    assert {r.path.rsplit("/", 1)[-1] for r in rec.collect()} == {
        "a.png", "c.png"
    }
    assert [r.length for r in rec.orderBy("length").collect()] == [13, 18]


def test_orc_roundtrip_pruning_and_pushdown(spark, tmp_path):
    """ORC source+sink (sources/io.read_orc/write_orc): values survive
    the roundtrip, a partition-column filter prunes at planning time,
    and a data-column predicate pushes into the ORC reader."""
    df = spark.range(200).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") % 4).cast("int").alias("part"),
        (F.col("id") * 1.5).alias("x"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    path = str(tmp_path / "orc_rt")
    sio.write_orc(df, path, mode="overwrite", partition_by=["part"])

    back = sio.read_orc(spark, path)
    assert back.count() == 200
    got = {(r.k, r.x, r.s) for r in back.filter("part = 2").collect()}
    want = {(i, i * 1.5, f"s{i}") for i in range(200) if i % 4 == 2}
    assert got == want

    pruned = back.filter(F.col("part") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "part" in plan, plan

    pushed = back.filter(F.col("k") >= 150).select("k")
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual" in plan.replace(
        " ", ""
    ), plan
    assert pushed.count() == 50


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """JDBC source+sink end-to-end (reference jdbc/JDBCRDD.scala scan,
    DataFrame.scala:1260 insertIntoJDBC) against the Derby embedded
    engine that ships in Spark's own jars — no external RDBMS needed.
    Covers: write (CREATE+INSERT), plain read, stride-partitioned read,
    per-predicate partitions, and filter pushdown into the remote WHERE
    (JDBCRDD.compileFilter :244 parity)."""
    url = f"jdbc:derby:{tmp_path}/jdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # uppercase names: Derby uppercases unquoted identifiers, so the
    # raw-SQL predicate strings below resolve without dialect quoting
    df = spark.range(100).select(
        F.col("id").cast("int").alias("K"),
        (F.col("id") % 5).cast("int").alias("GRP"),
        F.concat(F.lit("v"), F.col("id")).alias("V"),
    )
    sio.write_jdbc(df, url, "t_jdbc", mode="overwrite", properties=props)

    back = sio.read_jdbc(spark, url, "t_jdbc", properties=props)
    assert back.count() == 100

    parted = sio.read_jdbc(
        spark, url, "t_jdbc",
        partition_column="K", lower_bound=0, upper_bound=100,
        num_partitions=4, properties=props,
    )
    assert parted.rdd.getNumPartitions() == 4
    assert parted.count() == 100

    by_pred = sio.read_jdbc(
        spark, url, "t_jdbc",
        predicates=["GRP < 2", "GRP >= 2"], properties=props,
    )
    assert by_pred.rdd.getNumPartitions() == 2
    assert by_pred.count() == 100

    filtered = back.filter(F.col("K") >= 90).select("K", "V")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual" in plan.replace(" ", ""), plan
    assert filtered.count() == 10


def test_user_defined_type_roundtrip(spark):
    """UDT parity (reference dataTypes.scala:1185 SQLUserDefinedType,
    exercised there by MLlib vectors): a Python class with a __UDT__
    rides through createDataFrame → DataFrame ops → collect, and its
    serialized array form is directly queryable JVM-side."""
    from pyspark.sql import types as T

    from spark_monotasks_spark.functions.udt import Point2D, Point2DUDT

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("pt", Point2DUDT()),
        ]
    )
    pts = [(1, Point2D(0.0, 0.0)), (2, Point2D(3.0, 4.0)), (3, Point2D(6.0, 8.0))]
    df = spark.createDataFrame(pts, schema)
    assert isinstance(df.schema["pt"].dataType, Point2DUDT)

    # deserialize on collect gives back the Python objects
    got = {r.id: r.pt for r in df.collect()}
    assert got == dict(pts)

    # the UDT survives a shuffle in its serialized form (no Python
    # round-trip mid-plan) …
    shuffled = df.repartition(4, "id").sort("id")
    assert [r.pt for r in shuffled.collect()] == [p for _, p in pts]

    # … and UDFs receive the deserialized Python objects (the
    # reference's MLlib-vector-UDT usage pattern)
    dist = F.udf(lambda p: (p.x**2 + p.y**2) ** 0.5, "double")
    got_d = {r.id: r.d for r in df.select("id", dist("pt").alias("d")).collect()}
    assert got_d == {1: 0.0, 2: 5.0, 3: 10.0}


def test_insert_overwrite_dynamic_preserves_other_partitions(spark):
    """The reference semantics of dynamic INSERT OVERWRITE
    (hiveWriterContainers.scala): only partitions present in the input
    are rewritten; untouched partitions survive.  This is what makes the
    path an idempotent backfill primitive at scale."""
    table = "t_ins_dyn_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "v int, pk string"
    )
    sio.insert_overwrite_partitioned(spark, df1, table, ["pk"])
    assert spark.table(table).count() == 3

    # rewrite ONLY partition a, with different data
    df2 = spark.createDataFrame([(99, "a")], "v int, pk string")
    sio.insert_overwrite_partitioned(spark, df2, table, ["pk"])
    got = {(r.v, r.pk) for r in spark.table(table).collect()}
    # partition a replaced wholesale, partition b untouched
    assert got == {(99, "a"), (3, "b")}
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_training_shards_layout_and_order(spark, tmp_path):
    """Training-shard sink: hive shard=k dirs, rows sorted by
    (seq_id, seq_offset) inside each shard, values intact."""
    import os

    from spark_monotasks_spark.pipeline import text

    df = (
        spark.range(0, 2000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("n_tokens", (F.col("doc_id") % 300 + 1).cast("long"))
    )
    packed = text.pack_sequences(df, budget=1024, n_shards=4)
    path = str(tmp_path / "shards")
    sio.write_training_shards(packed, path)

    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert len(dirs) == 4
    back = spark.read.parquet(path)
    assert back.count() == 2000
    # per-shard files are internally sorted: reading one shard's files in
    # order yields non-decreasing (seq_id, seq_offset)
    one = spark.read.parquet(f"{path}/{dirs[0]}")
    rows = one.collect()  # single file per shard at this size: file order
    keys = [(r.seq_id, r.seq_offset) for r in rows]
    assert keys == sorted(keys)
    # roundtrip values match the packing output exactly
    a = sorted((r.doc_id, r.seq_id, r.seq_offset) for r in packed.collect())
    b = sorted((r.doc_id, r.seq_id, r.seq_offset) for r in back.collect())
    assert a == b


# --- Python DataSource API (sources/custom.py — SURVEY §2.1 row 9) ---------

def test_python_datasource_scan_partitions_and_pushdown(spark):
    import re

    from pyspark.sql import functions as F

    from spark_monotasks_spark.sources import custom

    custom.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n", 1000)
        .option("numPartitions", 5)
        .load()
    )
    assert df.count() == 1000
    assert df.rdd.getNumPartitions() == 5  # partitioned executor-side read
    filtered = df.filter((F.col("event_id") >= 500) & (F.col("event_id") < 510))
    plan = filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual" in m.group(1), plan
    got = sorted(r.event_id for r in filtered.collect())
    assert got == list(range(500, 510))
    # unsupported filters (non-event_id) still evaluate correctly
    assert df.filter(F.col("event_type") == "view").count() == 250


def test_python_datasource_jsonl_sink_roundtrip(spark, tmp_path):
    import json as _json
    import os as _os

    from spark_monotasks_spark.sources import custom

    custom.register_sink(spark)
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(50)], "id long, name string"
    ).repartition(4)
    out = str(tmp_path / "sink")
    df.write.format("jsonl_dir").option("path", out).mode("append").save()
    # two-phase commit: manifest written on driver, counts all task rows
    with open(_os.path.join(out, "_MANIFEST.json")) as f:
        manifest = _json.load(f)
    assert manifest["rows"] == 50 and len(manifest["files"]) == 4
    back = spark.read.json(out + "/part-*.jsonl")
    assert sorted(r.id for r in back.collect()) == list(range(50))


def test_observe_metrics_collected(spark):
    """df.observe: named aggregate metrics piggyback on a real action
    (no extra scan) and surface through the observation handle."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("orders_obs")
    df = (
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_totalprice").alias("sum_price"),
        )
        .filter(F.col("o_totalprice") > 0)
    )
    n = df.count()
    got = obs.get
    assert got["n_rows"] >= n and got["n_rows"] > 0
    assert got["sum_price"] > 0


def test_csv_malformed_modes(spark, tmp_path):
    """Dirty-ingest semantics (CSVRelation's dropMalformed lineage):
    PERMISSIVE quarantines bad rows in _corrupt_record with NULL typed
    fields, DROPMALFORMED silently drops them, FAILFAST raises."""
    import pytest as _pytest

    p = tmp_path / "dirty.csv"
    p.write_text("id,price\n1,10.5\nnot_an_int,oops,extra\n3,7.25\n")
    schema = "id int, price double, _corrupt_record string"
    permissive = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).option("header", "true").csv(str(p))
    rows = permissive.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and bad[0].id is None
    dropped = (
        spark.read.schema("id int, price double")
        .option("mode", "DROPMALFORMED").option("header", "true")
        .csv(str(p))
    )
    assert sorted(r.id for r in dropped.collect()) == [1, 3]
    with _pytest.raises(Exception, match="Malformed|FAILFAST|BadRecord"):
        (
            spark.read.schema("id int, price double")
            .option("mode", "FAILFAST").option("header", "true")
            .csv(str(p))
            .collect()
        )


# --- versioned snapshot tables (sources/versioned.py) ----------------------

def test_versioned_time_travel_and_isolation(spark, tmp_path):
    """Snapshot semantics: append makes a superset version, overwrite
    starts fresh, and every OLD version stays byte-stable (time travel)
    — a reader holding v1 is unaffected by later commits."""
    import pyspark.sql.functions as F

    from spark_monotasks_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    d1 = spark.range(0, 10).withColumn("batch", F.lit(1))
    d2 = spark.range(10, 15).withColumn("batch", F.lit(2))
    d3 = spark.range(100, 102).withColumn("batch", F.lit(3))

    assert V.write_version(d1, path) == 1
    v1_reader = V.read_version(spark, path, 1)  # resolved BEFORE later commits
    assert V.write_version(d2, path, mode="append") == 2
    assert V.write_version(d3, path, mode="overwrite") == 3
    assert V.list_versions(path) == [1, 2, 3]

    assert V.read_version(spark, path, 1).count() == 10
    assert sorted(
        r.id for r in V.read_version(spark, path, 2).collect()
    ) == list(range(15))
    assert V.read_version(spark, path).count() == 2  # latest = overwrite
    # isolation: the pre-commit reader still sees exactly v1
    assert v1_reader.count() == 10


def test_versioned_crash_retry_self_recovers(spark, tmp_path):
    """A data directory without a manifest (crashed writer) is invisible
    to readers, does NOT block the retry (per-attempt unique staging
    dirs — the retry never collides with the orphan), and vacuum reaps
    the orphan."""
    import os

    import pyspark.sql.functions as F

    from spark_monotasks_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    V.write_version(spark.range(5).withColumn("b", F.lit(1)), path)
    # simulate a writer that died after writing data, before committing
    orphan = os.path.join(path, "data", "v2-deadcafe")
    spark.range(99).withColumn("b", F.lit(99)).write.parquet(orphan)
    assert V.list_versions(path) == [1]
    assert V.read_version(spark, path).count() == 5
    # the retry commits v2 cleanly; the orphan's rows never surface
    assert V.write_version(
        spark.range(3).withColumn("b", F.lit(2)), path, mode="append"
    ) == 2
    assert V.read_version(spark, path).count() == 8
    import pytest as _pytest
    with _pytest.raises(ValueError):
        V.read_version(spark, path, 7)
    # vacuum keeps both committed versions but reaps the orphan dir
    removed = V.vacuum(path, keep_versions=2)
    assert "data/v2-deadcafe" in removed
    assert not os.path.exists(orphan)
    assert V.read_version(spark, path).count() == 8


def test_versioned_changes_vacuum_compact(spark, tmp_path):
    """read_changes is a manifest-resolved incremental read; vacuum
    prunes only unreachable data; compact rewrites the snapshot without
    changing its rows."""
    import os

    import pyspark.sql.functions as F

    from spark_monotasks_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    V.write_version(spark.range(0, 10).withColumn("b", F.lit(1)), path)
    V.write_version(spark.range(10, 14).withColumn("b", F.lit(2)), path,
                    mode="append")
    V.write_version(spark.range(14, 16).withColumn("b", F.lit(3)), path,
                    mode="append")
    # incremental: everything after v1 = exactly batches 2+3
    got = sorted(r.id for r in V.read_changes(spark, path, 1).collect())
    assert got == list(range(10, 16))
    assert V.read_changes(spark, path, 3).count() == 0

    # compact latest into 1 partition: same rows, new version
    v4 = V.compact(spark, path, target_partitions=1)
    assert v4 == 4
    assert V.read_version(spark, path).count() == 16

    # vacuum to the compacted version only: old dirs gone, v4 intact,
    # time travel to v1 now impossible
    removed = V.vacuum(path, keep_versions=1)
    assert removed and V.list_versions(path) == [4]
    assert V.read_version(spark, path).count() == 16
    # only the kept (compacted) version's data directory survives
    live = set(V._read_manifest(path, 4)["dirs"])
    on_disk = {f"data/{d}" for d in os.listdir(os.path.join(path, "data"))}
    assert on_disk == live


def test_versioned_concurrent_writers_conflict_cleanly(spark, tmp_path, monkeypatch):
    """Two writers racing for the same version number: the loser fails
    at the manifest hard-link (atomic + exclusive commit point), the
    winner's version is untouched, and the loser's staged data becomes
    an invisible orphan it can vacuum later — optimistic concurrency,
    no partial commits, no silent overwrite."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from spark_monotasks_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    V.write_version(spark.range(3).withColumn("b", F.lit(1)), path)
    # simulate the race: writer B resolves the head (sees only v1) while
    # writer A commits v2 — B must fail at the commit point, not clobber
    real_list = V.list_versions
    monkeypatch.setattr(V, "list_versions", lambda p: [1])
    V_a_data = spark.range(7).withColumn("b", F.lit(2))
    # writer A commits v2 for real (bypassing the stale view)
    monkeypatch.setattr(V, "list_versions", real_list)
    assert V.write_version(V_a_data, path, mode="append") == 2
    # writer B, holding the stale head, now targets v2 too
    monkeypatch.setattr(V, "list_versions", lambda p: [1])
    with _pytest.raises(V.ConcurrentCommitError):
        V.write_version(spark.range(9).withColumn("b", F.lit(3)), path,
                        mode="append")
    monkeypatch.setattr(V, "list_versions", real_list)
    assert V.list_versions(path) == [1, 2]
    # the winner's v2 rows are intact (3 + 7, not the loser's 9)
    assert V.read_version(spark, path).count() == 10


def test_versioned_replay_watermark_survives_compact_vacuum(spark, tmp_path):
    """The exactly-once replay watermark must not regress when compact
    writes an unstamped overwrite manifest and vacuum then drops the
    stamped ones — max_batch_id is carried forward into every commit."""
    import pyspark.sql.functions as F

    from spark_monotasks_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    V.write_version(spark.range(3).withColumn("b", F.lit(1)), path,
                    batch_id=0)
    V.write_version(spark.range(2).withColumn("b", F.lit(2)), path,
                    mode="append", batch_id=1)
    assert V.last_committed_batch_id(path) == 1

    # compact (no batch_id of its own) + vacuum away the stamped history
    V.compact(spark, path, target_partitions=1)
    V.vacuum(path, keep_versions=1)
    assert V.list_versions(path) == [3]
    # the watermark survives — a replayed micro-batch 1 stays skipped
    assert V.last_committed_batch_id(path) == 1
    # and later batches keep advancing it through overwrites too
    V.write_version(spark.range(1).withColumn("b", F.lit(3)), path,
                    mode="overwrite", batch_id=5)
    V.compact(spark, path, target_partitions=1)
    V.vacuum(path, keep_versions=1)
    assert V.last_committed_batch_id(path) == 5


def test_metadata_provenance_columns(spark):
    """Hidden _metadata struct (file provenance at scan time): every
    row can carry its source file path/size without any join — the
    lineage primitive a 100 TB ingest audit needs."""
    import pyspark.sql.functions as F

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id",
        F.col("_metadata.file_path").alias("src_path"),
        F.col("_metadata.file_size").alias("src_bytes"),
    )
    rows = df.limit(5).collect()
    assert rows and all(r.src_path.endswith(".parquet") for r in rows)
    assert all(r.src_bytes > 0 for r in rows)
    assert all("documents.parquet" in r.src_path for r in rows)


def test_versioned_concurrent_appends_under_real_race(spark, tmp_path):
    """Four writers append concurrently with retry-on-conflict: the
    hard-link commit point must serialize them into a contiguous
    version chain with every batch present exactly once — optimistic
    concurrency end-to-end, not a simulated race."""
    import threading

    import pyspark.sql.functions as F

    from spark_monotasks_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    V.write_version(spark.range(0, 1).withColumn("b", F.lit(0)), path)
    errors: list[Exception] = []

    def writer(tag: int) -> None:
        df = spark.range(100 * tag, 100 * tag + 10).withColumn(
            "b", F.lit(tag)
        )
        for _ in range(25):  # retry loop: re-resolve head and try again
            try:
                V.write_version(df, path, mode="append")
                return
            except V.ConcurrentCommitError:
                continue
            except Exception as e:  # pragma: no cover - diagnostics
                errors.append(e)
                return
        errors.append(RuntimeError(f"writer {tag} starved"))

    threads = [threading.Thread(target=writer, args=(t,)) for t in (1, 2, 3, 4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    # contiguous version chain, one commit per writer plus the seed
    assert V.list_versions(path) == [1, 2, 3, 4, 5]
    latest = V.read_version(spark, path)
    assert latest.count() == 1 + 4 * 10
    got = {r.b for r in latest.select("b").distinct().collect()}
    assert got == {0, 1, 2, 3, 4}
    # every batch appears exactly once (no double-commit on retry)
    per_tag = {
        r.b: r.n
        for r in latest.groupBy("b").agg(F.count("*").alias("n")).collect()
    }
    assert per_tag == {0: 1, 1: 10, 2: 10, 3: 10, 4: 10}


def test_incremental_minhash_bucketed_store_skips_history_shuffle(spark):
    """incremental_minhash_dedup's 100 TB claim, plan-proven: with the
    signature store persisted bucketed by (fam, h), the history side of
    the probe join reads WITHOUT an Exchange — only the (small) batch
    side shuffles.  An unbucketed store re-shuffles history every
    batch."""
    from spark_monotasks_spark.pipeline import dedup

    hist = spark.createDataFrame(
        [(i, f"historical document number {i} with several tokens")
         for i in range(50)],
        "doc_id long, text string")
    batch_melted = dedup.melted_minhash_signatures(
        spark.createDataFrame(
            [(100, "a fresh batch document with several tokens")],
            "doc_id long, text string"))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        sio.save_as_table(
            dedup.melted_minhash_signatures(hist),
            "sig_store", mode="overwrite", bucket_by=(4, ["fam", "h"]))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        store = spark.table("sig_store")

        def exchanges(df):
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            # AQE prints the final plan then echoes the initial one —
            # score only the final section
            final = plan.split("== Initial Plan ==")[0]
            return final.lower().count("exchange"), final

        probe = batch_melted.join(
            store.select("fam", "h", F.col("id").alias("_sid")),
            on=["fam", "h"])
        n_bucketed, final = exchanges(probe)
        assert "Bucketed: true" in final, final
        # the DIRECT claim, robust to how the batch melt itself plans
        # (r6's explode→agg signature shape adds a batch-side exchange):
        # the same probe against an UNBUCKETED store must plan exactly
        # one more exchange — the history shuffle the bucketing skips
        sio.save_as_table(
            dedup.melted_minhash_signatures(hist),
            "sig_store_flat", mode="overwrite")
        flat = spark.table("sig_store_flat")
        n_flat, _ = exchanges(
            batch_melted.join(
                flat.select("fam", "h", F.col("id").alias("_sid")),
                on=["fam", "h"]))
        assert n_flat == n_bucketed + 1, (n_bucketed, n_flat, final)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS sig_store")
        spark.sql("DROP TABLE IF EXISTS sig_store_flat")


def test_readme_counts_match_registry():
    """README's catalog/oracle/rows-only counts are written only by
    tools/gen_catalog.py --readme; this pins them to the live registry
    (three consecutive rounds hand-drifted them before r6).  The test
    count is validated by the tool itself at generation time (it needs
    a pytest --collect-only subprocess, too slow for a unit test)."""
    import re

    from spark_monotasks_spark.queries import ORACLE_REGISTRY, QUERY_REGISTRY

    s = open("README.md").read()
    m = re.search(r"\((\d+) in the catalog", s)
    assert m and int(m.group(1)) == len(QUERY_REGISTRY), (
        f"README says {m and m.group(1)} entries, registry has "
        f"{len(QUERY_REGISTRY)} — run tools/gen_catalog.py --readme"
    )
    m = re.search(r"\((\d+) oracles — the (\d+) rows-only entries", s)
    assert m and int(m.group(1)) == len(ORACLE_REGISTRY)
    assert int(m.group(2)) == len(QUERY_REGISTRY) - len(ORACLE_REGISTRY)


def test_catalog_md_rows_match_registry():
    """CATALOG.md row count and per-entry oracle/rows-only flags match
    the live registry (regenerate with tools/gen_catalog.py)."""
    import re

    from spark_monotasks_spark.queries import ORACLE_REGISTRY, QUERY_REGISTRY

    rows = {}
    for line in open("CATALOG.md"):
        m = re.match(r"\| (\d+) \| `([^`]+)` \| (oracle|rows-only) \|", line)
        if m:
            rows[m.group(2)] = m.group(3)
    assert list(rows) == list(QUERY_REGISTRY), (
        "CATALOG.md entries out of sync — run tools/gen_catalog.py"
    )
    for name, check in rows.items():
        want = "oracle" if name in ORACLE_REGISTRY else "rows-only"
        assert check == want, f"{name}: CATALOG says {check}, registry {want}"


def test_table_df_cache_per_session_and_sf(spark):
    """r8 table-metadata cache: load_table returns the SAME DataFrame
    object for repeated (session, sf_dir, name) lookups — sparing the
    per-query footer read + Py4J construction — while distinct sf_dirs
    stay distinct, and the cached plan still computes from parquet
    (row counts differ across scale factors, so no data is reused)."""
    from spark_monotasks_spark.tables import load_table, load_tables
    from tests.conftest import SF_ORACLE_DIR, SF_TEST_DIR

    a1 = load_table(spark, SF_TEST_DIR, "lineitem")
    a2 = load_table(spark, SF_TEST_DIR, "lineitem")
    assert a1 is a2
    b = load_table(spark, SF_ORACLE_DIR, "lineitem")
    assert b is not a1
    assert a1.count() != b.count()  # sf0.001 vs sf0.01: really distinct scans

    # Tables view registration follows the sf_dir: after loading the
    # oracle dir, SQL over the view must see ITS rows, then flip back.
    load_tables(spark, SF_ORACLE_DIR)["lineitem"]
    n_oracle = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n
    assert n_oracle == b.count()
    load_tables(spark, SF_TEST_DIR)["lineitem"]
    n_test = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n
    assert n_test == a1.count()


def test_spread_to_cluster_asks_the_frame_it_is_given(spark):
    """The spread guard probes the split count of the frame it receives:
    a repartitioned or coalesced frame over the same files as an
    already-probed scan gets its own answer, not the scan's."""
    from spark_monotasks_spark.partitioning import spread_to_cluster
    from spark_monotasks_spark.tables import load_table
    from tests.conftest import SF_TEST_DIR

    n = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_TEST_DIR, "documents")
    spread_to_cluster(docs)
    wide = docs.repartition(2 * n)
    assert spread_to_cluster(wide) is wide
    narrow = docs.coalesce(1)
    spread = spread_to_cluster(narrow)
    assert spread is not narrow
    assert spread.rdd.getNumPartitions() == n


def test_load_table_pins_parity_confs_changed_mid_session(spark):
    """A parity conf flipped mid-session is pinned back by the next
    catalog load, not only by the session's first one."""
    from spark_monotasks_spark.tables import load_table
    from tests.conftest import SF_TEST_DIR

    key = "spark.sql.ansi.enabled"
    load_table(spark, SF_TEST_DIR, "lineitem")
    try:
        spark.conf.set(key, "true")
        load_table(spark, SF_TEST_DIR, "lineitem")
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, "false")


def test_catalog_view_names_belong_to_the_catalog(spark, ctx):
    """A user view registered or dropped under a catalog table name lasts
    until the next catalog access, which registers the table's view
    again."""
    from spark_monotasks_spark.tables import load_table, load_tables
    from tests.conftest import SF_TEST_DIR

    n = load_table(spark, SF_TEST_DIR, "region").count()
    load_tables(spark, SF_TEST_DIR)["region"]
    ctx.register_data_frame_as_table(spark.range(1), "region")
    assert ctx.sql("SELECT count(*) AS n FROM region").first().n == 1
    load_tables(spark, SF_TEST_DIR)["region"]
    assert ctx.sql("SELECT count(*) AS n FROM region").first().n == n
    ctx.drop_temp_table("region")
    assert "region" not in ctx.table_names()
    load_tables(spark, SF_TEST_DIR)["region"]
    assert ctx.sql("SELECT count(*) AS n FROM region").first().n == n
