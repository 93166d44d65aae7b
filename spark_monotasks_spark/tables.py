"""Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).

Reads are plain ``spark.read.parquet`` so Catalyst gets column pruning +
filter pushdown + (on partitioned layouts) partition pruning for free —
the reference implemented these by hand in parquet/newParquet.scala and
parquet/ParquetFilters.scala; modern Spark's vectorized reader subsumes
both (SURVEY §4.2).

Sessions: every load path first calls :func:`ensure_parity_confs` so the
catalog works on ANY SparkSession — including a vanilla
``SparkSession.builder.getOrCreate()`` with none of the configs from
``session.get_spark``.  The reference (a Spark 1.3-era fork) has
pre-ANSI semantics and the events table carries parquet
TIMESTAMP(NANOS); both need runtime-settable confs on modern Spark 4.

Laziness: :func:`load_tables` returns a :class:`Tables` mapping that
reads each parquet file only on first access, so a query touching only
``lineitem`` can never fail on (or waste planning time over) an
unrelated table — and at 100 TB no view is registered for data the
query never reads.

Session state: like the reference's one per-session catalog
(``SimpleCatalog``, SQLContext.scala:107), the package keeps exactly one
map from a session to what the catalog knows about it
(:class:`_SessionState`): the table scan DataFrames already built, and
which table each catalog temp view currently points at.  The map is
weakly keyed, so a dropped session takes its state with it.  The base
tables are immutable fixtures: nothing rewrites a table path in place
within a session.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Iterator, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class _SessionState:
    """What the catalog remembers about one session.

    - ``frames``: (realpath of sf_dir, table) -> the table's scan
      DataFrame.  A cache miss costs a parquet footer read, schema
      inference and the nanos fix, ~0.1 s; a hit costs nothing.  Only
      the unresolved scan plan is kept: every execution still reads the
      files, so no result is reused.
    - ``views``: view name -> the (realpath of sf_dir, table) the temp
      view currently points at, so a repeated access skips the
      ``createOrReplaceTempView`` call (~12 ms) and a change of sf_dir
      re-registers.
    """

    frames: dict[tuple[str, str], DataFrame] = field(default_factory=dict)
    views: dict[str, tuple[str, str]] = field(default_factory=dict)


#: The catalog's only session state, keyed weakly by session.
_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, _SessionState]" = (
    weakref.WeakKeyDictionary()
)


def _state(spark: SparkSession) -> _SessionState:
    return _SESSIONS.setdefault(spark, _SessionState())


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at ANY scale factor (region
#: and nation are bounded-cardinality in TPC-H; always broadcast-join them).
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Runtime-settable confs the catalog's semantics depend on, defined
#: only here.  session.get_spark applies them at build time;
#: ensure_parity_confs applies them again at load time, which makes every
#: query self-sufficient on a session we didn't build (e.g. the external
#: correctness harness' vanilla session):
#:
#: - nanosAsLong: parquet TIMESTAMP(NANOS) (events.ts) otherwise throws
#:   PARQUET_TYPE_ILLEGAL at read time.
#: - ansi.enabled=false: reference parity — int division -> double,
#:   '1'+1 string promotion, lenient casts, silent overflow
#:   (HiveTypeCoercion.scala:230,:530; Cast.scala:28).
#: - sizeOfNull=false: size(NULL) -> NULL, matching the oracle.
#: - session.timeZone=UTC: timestamp oracles are computed in UTC.
PARITY_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.sizeOfNull": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_parity_confs(spark: SparkSession) -> None:
    """Defensively pin reference-parity confs on an existing session.

    Checked on every call (four conf reads, ~1 ms), so a conf changed
    mid-session is pinned back by the next catalog load.  No-ops when
    already set; all four confs are runtime-settable on Spark 4.
    """
    for key, value in PARITY_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            # a future Spark making one of these static shouldn't take
            # down every query; the read below will surface a real error
            pass


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def invalidate_view_record(spark: SparkSession, name: str) -> None:
    """Forget that a catalog temp view is registered.

    The public api surface (``drop_temp_table`` /
    ``register_data_frame_as_table``) can drop or replace a view named
    like a catalog table; without this hook a later Tables access would
    skip re-registration and SQL would see the replacement (or nothing).
    Callers that mutate temp views must invalidate so the next access
    re-fires createOrReplaceTempView."""
    state = _SESSIONS.get(spark)
    if state is not None:
        state.views.pop(name, None)


def _fix_nanos(df: DataFrame) -> DataFrame:
    """Convert TIMESTAMP(NANOS)-read-as-long columns to TimestampType.

    Spark rejects parquet TIMESTAMP(NANOS) unless
    ``spark.sql.legacy.parquet.nanosAsLong=true`` (ensured above), which
    surfaces them as nanos-since-epoch longs.  The driver's events data
    has zero sub-microsecond bits, so integral ``div 1000`` →
    ``timestamp_micros`` is exact and matches the DuckDB oracle's ns→µs
    view of the same values.
    """
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # TIMESTAMP_NTZ to match the other tables' parquet ms columns
            # and the oracle's timezone-naive view (session tz is UTC, so
            # the TimestampType→NTZ cast is identity).
            df = df.withColumn(
                "ts",
                F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"),
            )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_parity_confs(spark)
    key = (os.path.realpath(sf_dir), name)
    path = table_path(sf_dir, name)
    # existence is re-checked on cache hits too: a table directory
    # removed mid-session then raises the explicit error here instead of
    # a less helpful scan-time failure
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"table {name!r} not found at {path} — is sf_dir={sf_dir!r} correct?"
        )
    frames = _state(spark).frames
    df = frames.get(key)
    if df is None:
        df = frames[key] = _fix_nanos(spark.read.parquet(path))
    return df


class Tables(Mapping):
    """Lazy name→DataFrame mapping over the sf_dir parquet tables.

    Each access returns the session's cached scan (:func:`load_table`)
    and makes sure the table's temp view points at it.  Iteration /
    ``len`` cover the tables present on disk without loading any of them.
    """

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self._spark = spark
        self._sf_dir = sf_dir
        self._present = tuple(
            n for n in TABLE_NAMES if os.path.exists(table_path(sf_dir, n))
        )
        if not self._present:
            raise FileNotFoundError(
                f"no tables found under sf_dir={sf_dir!r} "
                f"(expected e.g. {table_path(sf_dir, 'lineitem')})"
            )

    def __getitem__(self, name: str) -> DataFrame:
        df = load_table(self._spark, self._sf_dir, name)
        key = (os.path.realpath(self._sf_dir), name)
        views = _state(self._spark).views
        if views.get(name) != key:
            df.createOrReplaceTempView(name)
            views[name] = key
        return df

    def __iter__(self) -> Iterator[str]:
        return iter(self._present)

    def __len__(self) -> int:
        return len(self._present)

    def register(self, *names: str) -> "Tables":
        """Force temp-view registration for ``names`` (all if empty) —
        for SQL-string queries that reference views without a dict
        access."""
        for name in names or self._present:
            self[name]
        return self


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    """Lazy-load the test tables; views register on first access.

    Mirrors the reference's SimpleCatalog temp-table registration
    (SQLContext.scala:107, catalyst/analysis/Catalog.scala) — temp views
    in modern Spark are the same in-memory name→plan map.
    """
    ensure_parity_confs(spark)
    return Tables(spark, sf_dir)
