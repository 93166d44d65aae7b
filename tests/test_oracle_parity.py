"""Local replica of the driver's correctness gate.

For every query with an oracle: run the Spark builder AND the DuckDB SQL
at sf0.01, compare row count, column names, and order-insensitive
values (sorted rows, with approximate equality for floats at 1e-9 —
stricter than any reasonable value-hash normalization).

Queries without an oracle get a rows-only smoke run.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from tests.conftest import SF_ORACLE_DIR

from spark_monotasks_spark.tables import TABLE_NAMES


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(rows, colnames):
    out = []
    for row in rows:
        norm = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    norm.append("NaN")
                else:
                    norm.append(round(v, 9))
            elif hasattr(v, "isoformat"):
                norm.append(v.isoformat())
            else:
                norm.append(v)
        out.append(tuple(norm))
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def _query_names():
    from spark_monotasks_spark.queries import ORACLE_REGISTRY, QUERY_REGISTRY

    return sorted(QUERY_REGISTRY), ORACLE_REGISTRY


ALL_NAMES, _ = _query_names()


@pytest.mark.parametrize("name", ALL_NAMES)
def test_query_parity(spark, name):
    from spark_monotasks_spark.queries import ORACLE_REGISTRY, QUERY_REGISTRY

    sdf = QUERY_REGISTRY[name](spark, SF_ORACLE_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    # non-degeneracy: a 0-row result is a vacuously-green check (two
    # absolute-threshold demos silently went empty at sf0.01 in r3) —
    # every catalog entry must demonstrate real rows at the gate SF
    assert spark_rows, f"{name}: degenerate 0-row result at {SF_ORACLE_DIR}"

    if name not in ORACLE_REGISTRY:
        # rows-only check (mirrors the driver's weak gate)
        assert isinstance(spark_rows, list)
        return

    con = _duck(SF_ORACLE_DIR)
    res = con.execute(ORACLE_REGISTRY[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert spark_cols == duck_cols, (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_norm = _normalize(spark_rows, spark_cols)
    d_norm = _normalize(duck_rows, duck_cols)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_catalog_schemas_scalar_only(spark):
    """Registry-level guard: no catalog query may expose array/map/struct
    at the top level of its output schema — the driver's pandas
    canonicalizer crashes on unhashable cells (the round-2 red rows).
    Schema resolution is plan-only (no job runs)."""
    from pyspark.sql import types as T

    from spark_monotasks_spark.queries import QUERY_REGISTRY

    from tests.conftest import catalog_sample

    offenders = []
    for name in catalog_sample(QUERY_REGISTRY):
        fn = QUERY_REGISTRY[name]
        schema = fn(spark, SF_ORACLE_DIR).schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, f"non-scalar catalog output columns: {offenders}"


def test_decimal_agg_exact(spark):
    """The decimal_agg catalog entry rounds to DOUBLE for the driver's
    hasher; this test keeps the *exact* Decimal assertion — Spark's
    widened DECIMAL(22,2) sum must equal DuckDB's bit-for-bit, no fp
    tolerance (SURVEY §7.4.1)."""
    from pyspark.sql import functions as F

    from spark_monotasks_spark.tables import load_tables

    t = load_tables(spark, SF_ORACLE_DIR)
    sdf = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("sum_price"),
            F.avg(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("decimal(16,6)")
            .alias("avg_qty"),
            F.max(F.col("l_discount").cast("decimal(4,2)")).alias("max_disc"),
        )
    )
    spark_rows = {r["l_returnflag"]: (r["sum_price"], r["avg_qty"], r["max_disc"])
                  for r in sdf.collect()}
    con = _duck(SF_ORACLE_DIR)
    duck_rows = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            """
            SELECT l_returnflag,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2)),
                   CAST(avg(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(16,6)),
                   max(CAST(l_discount AS DECIMAL(4,2)))
            FROM lineitem GROUP BY l_returnflag
            """
        ).fetchall()
    }
    assert spark_rows == duck_rows


def test_decimal38_overflow_delta(spark):
    """Documents the delta vs the reference's unlimited-precision
    DecimalType (dataTypes.scala:672 PrecisionInfo=None): modern Spark
    caps precision at 38, so a sum overflowing 38 digits returns NULL
    (ANSI off) instead of growing without bound.  DECIMAL(38,0) near
    10^37 summed 20× exceeds the cap."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    big = Decimal(10) ** 37
    df = spark.createDataFrame([(big,)] * 20, "v decimal(38,0)")
    got = df.agg(F.sum("v").alias("s")).first().s
    assert got is None  # overflow past the 38-digit cap, NULL not error
    # at exactly the cap there is no loss: 9 copies stay representable
    ok = spark.createDataFrame([(big,)] * 9, "v decimal(38,0)").agg(
        F.sum("v").alias("s")
    ).first().s
    assert ok == big * 9


def test_session_gap_compared_exactly(spark, tmp_path):
    """A 1800.8 s gap exceeds the 30-minute session timeout: user 1's
    two events are two sessions in the builders as in their oracles
    (a gap cut to whole seconds would keep one session), so user 2's
    lone event at 00:15 overlaps no session of user 1 and the daily
    concurrency peak is 1."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_monotasks_spark.queries import ORACLE_REGISTRY, QUERY_REGISTRY

    from tests.conftest import SF_TEST_DIR

    schema = pq.read_schema(
        os.path.join(SF_TEST_DIR, "events.parquet")
    ).remove_metadata()
    day = dt.datetime(2024, 1, 1)
    rows = [  # (event_id, ts, user_id)
        (0, day + dt.timedelta(milliseconds=100), 1),
        (1, day + dt.timedelta(minutes=15), 2),
        (2, day + dt.timedelta(minutes=30, milliseconds=900), 1),
    ]
    cols = {
        "event_id": [r[0] for r in rows],
        "ts": [r[1] for r in rows],
        "user_id": [r[2] for r in rows],
        "event_type": ["view"] * 3,
        "value": [1.0] * 3,
        "props": ['{"k": 1}'] * 3,
    }
    pq.write_table(
        pa.table({f.name: cols[f.name] for f in schema}, schema=schema),
        str(tmp_path / "events.parquet"),
    )
    con = _duck(str(tmp_path))
    expect_rows = {"events_sessionize": 3, "session_concurrency_peak": 1}
    for name, n_rows in expect_rows.items():
        sdf = QUERY_REGISTRY[name](spark, str(tmp_path))
        got = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
        want = _normalize(con.execute(ORACLE_REGISTRY[name]).fetchall(), None)
        assert got == want, f"{name}: spark={got} duck={want}"
        assert len(got) == n_rows, name
    peak = QUERY_REGISTRY["session_concurrency_peak"](spark, str(tmp_path))
    assert [r["peak_active"] for r in peak.collect()] == [1]


def test_null_text_has_no_shingles(spark, tmp_path):
    """NULL text has NULL shingles at every k, as in the oracles: two
    NULL-text documents and one empty one are no near-duplicates of
    each other (a NULL doc read as the empty string would pair with
    every other NULL or empty doc at Jaccard 1.0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_monotasks_spark.queries import ORACLE_REGISTRY, QUERY_REGISTRY

    from tests.conftest import SF_TEST_DIR

    schema = pq.read_schema(
        os.path.join(SF_TEST_DIR, "documents.parquet")
    ).remove_metadata()
    cols = {
        "doc_id": [1, 2, 3],
        "text": [None, None, ""],
        "lang": ["en"] * 3,
        "source": ["web"] * 3,
        "n_chars": [0] * 3,
    }
    pq.write_table(
        pa.table({f.name: cols[f.name] for f in schema}, schema=schema),
        str(tmp_path / "documents.parquet"),
    )
    name = "ngram_jaccard_block"
    got = [tuple(r) for r in QUERY_REGISTRY[name](spark, str(tmp_path)).collect()]
    want = _duck(str(tmp_path)).execute(ORACLE_REGISTRY[name]).fetchall()
    assert got == want == []
