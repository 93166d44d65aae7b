"""Versioned snapshot tables: manifest-committed parquet with time
travel — the minimal lakehouse layout.

The reference's sinks overwrite or append files in place
(sources/interfaces.scala SaveMode semantics); at 100 TB that couples
readers to in-flight writes and makes "what data trained this run"
unanswerable.  The standard fix (Delta/Iceberg's core idea) is tiny:
data files are immutable, and a VERSION is a manifest listing exactly
the directories that belong to it.  Readers resolve a manifest first,
so they see a consistent snapshot no matter what a writer is doing;
the manifest commit is the single atomic commit point; old versions
stay readable (time travel) until vacuumed.

One commit protocol (``_commit``) serves two manifest layouts:

- a single table, one manifest per version listing its directories::

    table/
      data/v1-3f2a9c1d/part-*.parquet   (immutable once committed)
      data/v2-b04e77aa/part-*.parquet
      _versions/v1.json   {"version":1,"dirs":["data/v1-3f2a9c1d"],...}
      _versions/v2.json   {"version":2,"dirs":["data/v1-...","data/v2-..."]}

- a multi-table store, one transaction manifest per snapshot listing
  every table's directories (``snapshot_*`` functions)::

    base/
      a/data/t1-0c9e4b7f/part-*.parquet
      b/data/t1-91d2aa30/part-*.parquet
      _txns/t1.json   {"txn":1,"tables":{"a":["a/data/t1-..."],"b":[...]}}

The protocol: stage every new data directory under a per-attempt
random suffix, carry the replay watermark forward, write the manifest
to a temp file, and hard-link it to its final name.  The hard link is
atomic AND exclusive (a rename would silently overwrite a concurrent
committer's manifest), so the loser of a same-id race gets
:class:`ConcurrentCommitError` and its retry re-resolves the head —
optimistic concurrency without a lock service.

Scale notes: the manifest holds directory names, not file lists — the
per-version metadata is O(commits), and Spark's parquet reader lists
splits inside each directory in parallel.  A crashed writer leaves an
orphan data directory but NO manifest, so it is invisible to every
reader.  The random suffix means a retry after a mid-write crash stages
into a FRESH directory instead of colliding with the orphan — the sink
self-recovers with no manual cleanup, and vacuum reaps manifest-less
orphans as a side effect (don't run vacuum concurrently with an
in-flight writer: it cannot tell an orphan from a not-yet-committed
staging dir).  Readers of version N never list directories created
after N, so concurrent append+read needs no locking.

The streaming replay watermark (``max_batch_id``) is carried forward
into EVERY manifest — append, overwrite, and compact alike — so
vacuum dropping old manifests can never regress it and re-admit a
replayed micro-batch (see streaming.dstream.versioned_append_sink).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import tempfile
import uuid
from typing import Callable, Iterable, NamedTuple

from pyspark.sql import DataFrame, SparkSession


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the version this writer was targeting.
    The table is consistent; the caller should simply retry (the retry
    re-resolves the head and stages into a fresh data directory)."""


class _Layout(NamedTuple):
    subdir: str  # manifest directory under the table/store root
    prefix: str  # manifest file name prefix: <prefix><id>.json
    id_key: str  # manifest key holding the id
    noun: str  # what an id is called in messages
    dirs: Callable[[dict], Iterable[str]]  # a manifest's data directories
    # the parents of all data directories, given every manifest
    data_roots: Callable[[list[dict]], list[str]]


_TABLE = _Layout(
    "_versions", "v", "version", "version",
    lambda m: m["dirs"],
    lambda manifests: ["data"],
)
_STORE = _Layout(
    "_txns", "t", "txn", "snapshot",
    lambda m: itertools.chain.from_iterable(m["tables"].values()),
    lambda manifests: [
        f"{t}/data" for t in sorted({t for m in manifests for t in m["tables"]})
    ],
)


def _manifest_path(root: str, lay: _Layout, n: int) -> str:
    return os.path.join(root, lay.subdir, f"{lay.prefix}{n}.json")


def _list_ids(root: str, lay: _Layout) -> list[int]:
    mdir = os.path.join(root, lay.subdir)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in os.listdir(mdir):
        if f.startswith(lay.prefix) and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _load(root: str, lay: _Layout, n: int) -> dict:
    with open(_manifest_path(root, lay, n)) as f:
        return json.load(f)


def _resolve(
    root: str, lay: _Layout, ids: list[int], n: int | None = None
) -> dict:
    """The manifest of committed id ``n`` (the head if None)."""
    if not ids:
        raise ValueError(f"no committed {lay.noun}s at {root!r}")
    n = ids[-1] if n is None else n
    if n not in ids:
        raise ValueError(f"{lay.noun} {n} not in committed {lay.noun}s {ids}")
    return _load(root, lay, n)


def _watermark(m: dict) -> int:
    return m.get("max_batch_id", m.get("batch_id", -1))


def _commit(
    root: str,
    lay: _Layout,
    n: int,
    prev: dict | None,
    staged: dict[str, DataFrame],
    body: dict,
    batch_id: int | None,
) -> int:
    """Stage ``staged`` (relative dir -> rows), then commit manifest
    ``n`` = {id, **body, batch_id?, max_batch_id?} by exclusive
    hard-link.  A writer that dies before the link leaves no manifest,
    so readers never see partial data."""
    for rel, df in staged.items():
        df.write.mode("errorifexists").parquet(os.path.join(root, rel))
    manifest = {lay.id_key: n, **body}
    carried = -1 if prev is None else _watermark(prev)
    if batch_id is not None:
        manifest["batch_id"] = batch_id
        carried = max(carried, batch_id)
    if carried >= 0:
        manifest["max_batch_id"] = carried
    mdir = os.path.join(root, lay.subdir)
    os.makedirs(mdir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, _manifest_path(root, lay, n))
    except FileExistsError:
        raise ConcurrentCommitError(
            f"{lay.noun} {n} at {root!r} was committed by a concurrent "
            "writer; retry against the new head"
        ) from None
    finally:
        os.unlink(tmp)
    return n


def _vacuum(root: str, lay: _Layout, keep: int) -> list[str]:
    """Reap every data directory the newest ``keep`` manifests do not
    reference, then drop the older manifests."""
    if keep < 1:
        raise ValueError(f"keep_{lay.noun}s must be >= 1")
    ids = _list_ids(root, lay)
    manifests = [_load(root, lay, n) for n in ids]
    live = {d for m in manifests[-keep:] for d in lay.dirs(m)}
    removed = []
    for data_root in lay.data_roots(manifests):
        full = os.path.join(root, data_root)
        for d in sorted(os.listdir(full)) if os.path.isdir(full) else []:
            rel = f"{data_root}/{d}"
            if rel not in live:
                shutil.rmtree(os.path.join(full, d), ignore_errors=True)
                removed.append(rel)
    for n in ids[:-keep]:
        os.remove(_manifest_path(root, lay, n))
    return removed


def _check_mode(mode: str) -> None:
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")


# ---------------------------------------------------------------------------
# single-table versions
# ---------------------------------------------------------------------------

def list_versions(path: str) -> list[int]:
    """Committed versions, ascending (a version exists iff its manifest
    does — data dirs without a manifest are invisible orphans)."""
    return _list_ids(path, _TABLE)


def _read_manifest(path: str, version: int) -> dict:
    return _load(path, _TABLE, version)


def write_version(
    df: DataFrame, path: str, mode: str = "append", batch_id: int | None = None
) -> int:
    """Commit ``df`` as the next version of the table at ``path``.

    ``append``: the new version sees all previous data plus ``df``.
    ``overwrite``: the new version sees only ``df`` (older versions
    still time-travel to the pre-overwrite data — nothing is deleted).
    Returns the committed version number.

    The data directory name carries a random per-attempt suffix and the
    manifest records the ACTUAL name, so a retry after a mid-write
    crash never collides with the orphan (``errorifexists`` would
    otherwise fail every retry forever).  A lost same-version race
    raises :class:`ConcurrentCommitError`.

    ``batch_id`` stamps the manifest with a streaming micro-batch id —
    ``last_committed_batch_id`` then lets an exactly-once sink skip
    replayed batches (see streaming.dstream.versioned_append_sink).
    The running max over all committed batch_ids is ALSO carried
    forward into every manifest (``max_batch_id``) so the watermark
    survives compact + vacuum dropping the stamped manifests.
    """
    _check_mode(mode)
    versions = list_versions(path)
    prev = _read_manifest(path, versions[-1]) if versions else None
    new_v = (versions[-1] + 1) if versions else 1
    rel = f"data/v{new_v}-{uuid.uuid4().hex[:8]}"
    dirs = prev["dirs"] + [rel] if mode == "append" and prev else [rel]
    return _commit(
        path, _TABLE, new_v, prev, {rel: df},
        {"mode": mode, "dirs": dirs}, batch_id,
    )


def last_committed_batch_id(path: str) -> int:
    """Largest batch id committed to the table, or -1 — the streaming
    sink's replay watermark.  Reads the carried-forward ``max_batch_id``
    (falling back to per-commit ``batch_id`` for manifests written
    before the carry-forward existed), scanning all surviving manifests
    so the answer is right even with a mixed-era history."""
    return max(
        [_watermark(_read_manifest(path, v)) for v in list_versions(path)],
        default=-1,
    )


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: resolve the manifest (latest if ``version`` is
    None), scan exactly its directories.  Time travel = pass an older
    version number."""
    m = _resolve(path, _TABLE, list_versions(path), version)
    return spark.read.parquet(*[os.path.join(path, d) for d in m["dirs"]])


def read_changes(
    spark: SparkSession, path: str, since_version: int
) -> DataFrame:
    """Incremental read: rows added AFTER ``since_version`` — resolved
    purely from manifests (each version's NEW directories are the ones
    absent from its predecessor), so "read only new data since the last
    run" costs zero data listing of history.  This is the ingest-side
    complement of pipeline.dedup.incremental_exact_dedup.

    Overwrite commits restart lineage: their directory is new by
    definition, so a consumer that checkpoints ``since_version`` sees
    exactly the post-overwrite table once — the same contract as a
    stream reader observing a truncate+reload.
    """
    versions = list_versions(path)
    seen = set(_resolve(path, _TABLE, versions, since_version)["dirs"])
    new_dirs: list[str] = []
    for v in versions:
        if v <= since_version:
            continue
        for d in _read_manifest(path, v)["dirs"]:
            if d not in seen:
                seen.add(d)
                new_dirs.append(d)
    if not new_dirs:
        return read_version(spark, path, since_version).limit(0)
    return spark.read.parquet(*[os.path.join(path, d) for d in new_dirs])


def vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Delete data directories unreachable from the newest
    ``keep_versions`` manifests (and drop the older manifests) —
    time travel shrinks to the kept window; current reads are
    untouched.  Manifest-less orphan directories (crashed writers) are
    reaped too, so don't run vacuum while a writer is mid-commit.
    The streaming replay watermark survives: every kept manifest
    carries ``max_batch_id`` forward.  Returns the deleted directory
    names."""
    return _vacuum(path, _TABLE, keep_versions)


def compact(
    spark: SparkSession, path: str, target_partitions: int
) -> int:
    """Commit a new OVERWRITE version holding the latest snapshot's
    rows rewritten into ``target_partitions`` files — the small-files
    fix after many appends.  History (pre-compaction versions) stays
    time-travelable until vacuumed; readers see either the old file
    set or the new one, never a mix (manifest atomicity)."""
    latest = read_version(spark, path)
    return write_version(
        latest.repartition(target_partitions), path, mode="overwrite"
    )


# ---------------------------------------------------------------------------
# multi-table atomic snapshots (cross-table transactions)
# ---------------------------------------------------------------------------

def list_snapshots(base: str) -> list[int]:
    return _list_ids(base, _STORE)


def _read_txn(base: str, txn: int) -> dict:
    return _load(base, _STORE, txn)


def snapshot_commit(
    dfs: dict[str, DataFrame],
    base: str,
    mode: str = "append",
    batch_id: int | None = None,
) -> int:
    """Commit SEVERAL tables as ONE atomic snapshot — the cross-table
    transaction single-table manifests cannot give (Delta's multi-table
    gap; Iceberg fixes it with catalog-level transactions): a reader
    resolving snapshot N sees every table at the same logical instant,
    so cross-table invariants (a fact and its rollup, orders and their
    lineitems) can never be observed half-updated.

    Same commit protocol as write_version, one level up: each table's
    data stages into its own directory, and the ONE transaction
    manifest records every table's directory list.  A writer that dies
    after staging some tables leaves orphan directories but NO
    manifest — readers never see a torn snapshot.  ``append`` carries
    each table's previous directory list forward; ``overwrite``
    replaces it.  Tables absent from ``dfs`` carry forward unchanged —
    a transaction may touch any subset.

    ``batch_id`` stamps the manifest with a streaming micro-batch id;
    the running max carries forward into every manifest
    (``max_batch_id``) exactly like write_version's, so
    :func:`last_snapshot_batch_id` gives an exactly-once streaming
    sink ONE replay watermark covering ALL tables — a replayed batch
    skips the whole transaction, never half of it.

    Scale: the manifest is O(tables x commits) directory NAMES; data
    files are immutable parquet written fully distributed.  Returns
    the committed snapshot id."""
    _check_mode(mode)
    if not dfs:
        raise ValueError("snapshot_commit needs at least one table")
    snaps = list_snapshots(base)
    prev = _read_txn(base, snaps[-1]) if snaps else None
    new_t = (snaps[-1] + 1) if snaps else 1
    tables: dict[str, list[str]] = dict(prev["tables"]) if prev else {}
    staged = {}
    for name, df in dfs.items():
        rel = f"{name}/data/t{new_t}-{uuid.uuid4().hex[:8]}"
        staged[rel] = df
        if mode == "append" and name in tables:
            tables[name] = tables[name] + [rel]
        else:
            tables[name] = [rel]
    return _commit(
        base, _STORE, new_t, prev, staged,
        {"mode": mode, "tables": tables}, batch_id,
    )


def last_snapshot_batch_id(base: str) -> int:
    """The multi-table replay watermark: the max micro-batch id any
    committed snapshot carries (-1 if none) — resolved from the LATEST
    manifest only, since the running max is carried forward."""
    snaps = list_snapshots(base)
    return _watermark(_read_txn(base, snaps[-1])) if snaps else -1


def snapshot_read(
    spark: SparkSession, base: str, table: str, txn: int | None = None
) -> DataFrame:
    """Read ``table`` AS OF snapshot ``txn`` (default: latest).  Two
    reads at the same ``txn`` — of different tables — are guaranteed
    mutually consistent: both resolve the one transaction manifest."""
    m = _resolve(base, _STORE, list_snapshots(base), txn)
    if table not in m["tables"]:
        raise ValueError(f"table {table!r} not in snapshot {m['txn']}")
    dirs = [os.path.join(base, d) for d in m["tables"][table]]
    return spark.read.parquet(*dirs)


def snapshot_changes(
    spark: SparkSession, base: str, table: str, from_txn: int, to_txn: int
) -> DataFrame:
    """Incremental read: the rows ``table`` gained between ``from_txn``
    (exclusive) and ``to_txn`` (inclusive) — the change-data-feed a
    downstream incremental consumer reads instead of rescanning the
    snapshot (the read_changes idea lifted to the transaction store).
    Resolved purely from the two manifests' directory-list difference;
    an overwrite between the txns makes the delta undefined (the new
    dirs are a full replacement, not an increment) and raises."""
    snaps = list_snapshots(base)
    older = _resolve(base, _STORE, snaps, from_txn)["tables"].get(table, [])
    newer = _resolve(base, _STORE, snaps, to_txn)["tables"].get(table, [])
    if from_txn >= to_txn:
        raise ValueError("from_txn must precede to_txn")
    if not set(older) <= set(newer):
        raise ValueError(
            f"table {table!r} was overwritten between txn {from_txn} and "
            f"{to_txn}; the delta is not an increment — read the snapshot"
        )
    delta = [d for d in newer if d not in set(older)]
    if not delta:
        schema = spark.read.parquet(
            *[os.path.join(base, d) for d in newer]
        ).schema
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*[os.path.join(base, d) for d in delta])


def snapshot_vacuum(base: str, keep_snapshots: int = 1) -> list[str]:
    """Reap data directories no kept snapshot references (and the
    dropped txn manifests) — the vacuum step of the transaction store.
    Orphans from crashed writers go too.  Returns removed relative
    directory names.  Same caveat as table-level vacuum: don't run
    concurrently with an in-flight committer."""
    return _vacuum(base, _STORE, keep_snapshots)


def snapshot_compact(
    spark: SparkSession, base: str, table: str, target_partitions: int
) -> int:
    """Commit a new transaction in which ``table``'s accumulated
    directories are rewritten into one ``target_partitions``-file
    directory (OVERWRITE for that table; every other table carries
    forward unchanged) — the small-files fix after many appended
    snapshots, scoped to one table of the store.  History stays
    time-travelable until snapshot_vacuum; readers see the old dirs or
    the new one, never a mix (txn-manifest atomicity)."""
    latest = snapshot_read(spark, base, table)
    return snapshot_commit(
        {table: latest.repartition(target_partitions)}, base, mode="overwrite"
    )
