"""Property tests for the r9 lakehouse operators: multi-table atomic
snapshots (torn-commit invisibility, concurrent-commit exclusivity,
subset transactions) and Z-order box skipping (files actually skipped,
and MORE skipped than a 1-D sort for a box narrow in the second
dimension)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_monotasks_spark.operators import layout
from spark_monotasks_spark.sources import versioned as V


def _counts(spark, base, table, txn=None):
    return {
        r["k"]: r["n"]
        for r in V.snapshot_read(spark, base, table, txn)
        .groupBy(F.col("k"))
        .agg(F.sum("n").alias("n"))
        .collect()
    }


def test_snapshot_commit_atomic_and_consistent(spark, tmp_path):
    """Two tables commit together; AS-OF reads of both tables at each
    txn are mutually consistent; an orphan staging dir (simulated
    crashed writer) is invisible; a subset txn carries the untouched
    table forward."""
    base = str(tmp_path / "txn")
    a1 = spark.createDataFrame([("x", 1), ("y", 2)], "k string, n long")
    b1 = spark.createDataFrame([("x", 10)], "k string, n long")
    assert V.snapshot_commit({"a": a1, "b": b1}, base) == 1

    # simulated torn writer: a staged data dir with NO txn manifest
    orphan = os.path.join(base, "a", "data", "t9-deadbeef")
    a1.write.parquet(orphan)
    assert V.list_snapshots(base) == [1]
    assert _counts(spark, base, "a") == {"x": 1, "y": 2}

    a2 = spark.createDataFrame([("x", 5)], "k string, n long")
    b2 = spark.createDataFrame([("y", 7)], "k string, n long")
    assert V.snapshot_commit({"a": a2, "b": b2}, base) == 2

    # time travel: txn 1 unchanged, txn 2 sees appends on BOTH tables
    assert _counts(spark, base, "a", 1) == {"x": 1, "y": 2}
    assert _counts(spark, base, "b", 1) == {"x": 10}
    assert _counts(spark, base, "a", 2) == {"x": 6, "y": 2}
    assert _counts(spark, base, "b", 2) == {"x": 10, "y": 7}

    # subset transaction: only table b changes; a carries forward
    assert V.snapshot_commit({"b": b1}, base) == 3
    assert _counts(spark, base, "a", 3) == {"x": 6, "y": 2}
    assert _counts(spark, base, "b", 3) == {"x": 20, "y": 7}


def test_snapshot_concurrent_commit_loses_cleanly(spark, tmp_path):
    """The hard-link commit is exclusive: a manifest already at the
    target version forces ConcurrentCommitError and leaves the winner
    intact; the loser's retry lands on the next snapshot id."""
    base = str(tmp_path / "race")
    df = spark.createDataFrame([("x", 1)], "k string, n long")
    V.snapshot_commit({"a": df}, base)
    # race window: the concurrent winner commits t2 AFTER this writer
    # resolved the head ([1]) but before its hard-link — simulated by
    # pinning list_snapshots to the stale head while t2 exists on disk
    import json

    with open(os.path.join(base, "_txns", "t2.json"), "w") as f:
        json.dump(
            {"txn": 2, "mode": "append",
             "tables": V._read_txn(base, 1)["tables"]}, f
        )
    real = V.list_snapshots
    V.list_snapshots = lambda b: [1]
    try:
        with pytest.raises(V.ConcurrentCommitError):
            V.snapshot_commit({"a": df}, base)
    finally:
        V.list_snapshots = real
    # retry re-resolves the true head (t2) and lands on txn 3
    assert V.snapshot_commit({"a": df}, base) == 3


def test_snapshot_compact_concurrent_commit_loses_cleanly(spark, tmp_path):
    """Compaction commits through the same exclusive hard-link: a
    compact that resolved a stale head loses to the concurrent winner
    with ConcurrentCommitError, and the winner's snapshot is intact."""
    base = str(tmp_path / "cmp_race")
    mk = lambda rows: spark.createDataFrame(rows, "k string, n long")
    V.snapshot_commit({"a": mk([("x", 1)])}, base)
    V.snapshot_commit({"a": mk([("y", 2)])}, base)  # the winner's t2
    real = V.list_snapshots
    V.list_snapshots = lambda b: [1]
    try:
        with pytest.raises(V.ConcurrentCommitError):
            V.snapshot_compact(spark, base, "a", target_partitions=1)
    finally:
        V.list_snapshots = real
    assert V.list_snapshots(base) == [1, 2]
    assert len(V._read_txn(base, 2)["tables"]["a"]) == 2
    assert _counts(spark, base, "a") == {"x": 1, "y": 2}


def test_snapshot_overwrite_mode(spark, tmp_path):
    base = str(tmp_path / "ow")
    df1 = spark.createDataFrame([("x", 1)], "k string, n long")
    df2 = spark.createDataFrame([("y", 9)], "k string, n long")
    V.snapshot_commit({"a": df1}, base)
    V.snapshot_commit({"a": df2}, base, mode="overwrite")
    assert _counts(spark, base, "a") == {"y": 9}
    assert _counts(spark, base, "a", 1) == {"x": 1}


def _files_read(df) -> int:
    return df.select(F.input_file_name()).distinct().count()


def test_zorder_box_skips_more_files_than_1d_sort(spark, tmp_path):
    """On a uniform 2-D grid, a box narrow in BOTH dimensions must (a)
    equal the brute-force filter, (b) read fewer files than the table
    holds, and (c) read fewer files than the same box over a 1-D
    x-sorted layout (which scatters y across every x-run)."""
    n = 1 << 12
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") / 64).cast("long") % 64).alias("y"),
    )
    zpath = str(tmp_path / "z")
    lpath = str(tmp_path / "l")
    layout.write_zordered_with_manifest(df, zpath, "x", "y", bits=6, num_files=16)
    layout.write_sorted_with_manifest(df, lpath, "x", num_files=16)

    box = dict(x_lo=8, x_hi=15, y_lo=8, y_hi=15)
    zread = layout.read_box_skipping(spark, zpath, "x", "y", **box)
    expect = df.filter(
        F.col("x").between(8, 15) & F.col("y").between(8, 15)
    )
    assert sorted(r["id"] for r in zread.collect()) == sorted(
        r["id"] for r in expect.collect()
    )

    z_files = _files_read(zread)
    total_files = _files_read(spark.read.parquet(zpath))
    assert z_files < total_files, (z_files, total_files)

    # 1-D layout: prune on x via its manifest, then filter y in-file —
    # every x-overlapping file must be read regardless of y
    lread = layout.read_skipping(spark, lpath, "x", 8, 15).filter(
        F.col("y").between(8, 15)
    )
    l_files = _files_read(
        layout.read_skipping(spark, lpath, "x", 8, 15)
    )
    assert sorted(r["id"] for r in lread.collect()) == sorted(
        r["id"] for r in expect.collect()
    )
    assert z_files < l_files, (z_files, l_files)


def test_zorder_box_empty_when_no_overlap(spark, tmp_path):
    df = spark.range(256).select(
        F.col("id"), (F.col("id") % 16).alias("x"), (F.col("id") % 16).alias("y")
    )
    path = str(tmp_path / "z0")
    layout.write_zordered_with_manifest(df, path, "x", "y", bits=4, num_files=4)
    out = layout.read_box_skipping(spark, path, "x", "y", 100, 200, 100, 200)
    assert out.count() == 0


def test_streaming_snapshot_sink_multibatch_exactly_once(spark, tmp_path):
    """Two micro-batches through the REAL sink (maxFilesPerTrigger=1):
    final tables equal the batch aggregates; the txn watermark covers
    both tables at once, so a replayed batch id skips the WHOLE
    transaction (no half-applied rollups)."""
    import os

    from spark_monotasks_spark.streaming import dstream

    rows1 = [(1, "click"), (2, "view"), (3, "click")]
    rows2 = [(4, "view"), (5, "click")]
    indir = str(tmp_path / "in")
    os.makedirs(indir)
    # the file source lists plain files, not nested write dirs — stage
    # each batch's single part file directly into the watched dir
    import glob
    import shutil as sh

    for i, rows in enumerate((rows1, rows2), 1):
        w = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, "id long, et string").coalesce(1).write.parquet(w)
        sh.copy(glob.glob(w + "/part-*.parquet")[0], f"{indir}/f{i}.parquet")
    base = str(tmp_path / "tables")

    def build(batch):
        return {
            "by_type": batch.groupBy("et").agg(F.count(F.lit(1)).alias("n")),
            "total": batch.agg(F.count(F.lit(1)).alias("n")),
        }

    stream = dstream.file_stream(
        spark, indir, "id long, et string", max_files_per_trigger=1
    )
    q = (
        dstream.streaming_snapshot_sink(stream, base, str(tmp_path / "ck"), build)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    assert len(V.list_snapshots(base)) == 2
    by_type = {
        r["et"]: r["n"]
        for r in V.snapshot_read(spark, base, "by_type")
        .groupBy("et")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert by_type == {"click": 3, "view": 2}
    total = sum(
        r["n"] for r in V.snapshot_read(spark, base, "total").collect()
    )
    assert total == 5

    # replay: the watermark covers BOTH tables — re-applying an already
    # committed batch id is a no-op for the whole transaction
    wm = V.last_snapshot_batch_id(base)
    assert wm >= 1
    df = spark.createDataFrame(rows2, "id long, et string")
    if 1 > wm:  # the sink's guard, applied verbatim — must not fire
        V.snapshot_commit(build(df), base, batch_id=1)
    assert len(V.list_snapshots(base)) == 2
    replay_counts = {
        r["et"]: r["n"]
        for r in V.snapshot_read(spark, base, "by_type")
        .groupBy("et")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert replay_counts == {"click": 3, "view": 2}


def test_snapshot_changes_and_vacuum(spark, tmp_path):
    """Delta between txns = exactly the appended rows; empty delta for
    an untouched table; overwrite between txns raises; vacuum reaps
    unreferenced dirs (incl. a planted orphan) but keeps the head
    readable and drops old manifests."""
    base = str(tmp_path / "cdf")
    a1 = spark.createDataFrame([("x", 1)], "k string, n long")
    a2 = spark.createDataFrame([("y", 2)], "k string, n long")
    b1 = spark.createDataFrame([("z", 3)], "k string, n long")
    V.snapshot_commit({"a": a1, "b": b1}, base)
    V.snapshot_commit({"a": a2}, base)  # b carries forward untouched

    delta_a = V.snapshot_changes(spark, base, "a", 1, 2).collect()
    assert [(r["k"], r["n"]) for r in delta_a] == [("y", 2)]
    assert V.snapshot_changes(spark, base, "b", 1, 2).count() == 0

    V.snapshot_commit({"a": a1}, base, mode="overwrite")
    with pytest.raises(ValueError, match="overwritten"):
        V.snapshot_changes(spark, base, "a", 2, 3)

    # plant an orphan, vacuum to the head only
    orphan = os.path.join(base, "a", "data", "t7-feedface")
    a1.write.parquet(orphan)
    removed = V.snapshot_vacuum(base, keep_snapshots=1)
    assert any("t7-feedface" in r for r in removed)
    assert V.list_snapshots(base) == [3]
    assert _counts(spark, base, "a") == {"x": 1}
    # txn 3 overwrote a but b's dirs are still referenced by... the
    # head manifest carries b forward, so b must survive the vacuum
    assert _counts(spark, base, "b") == {"z": 3}


def test_snapshot_compact_single_table(spark, tmp_path):
    """Compaction rewrites one table's dirs into one directory while
    other tables carry forward; values and the replay watermark
    survive; pre-compaction snapshots still time-travel; vacuum then
    reaps the pre-compaction dirs."""
    base = str(tmp_path / "cmp")
    mk = lambda rows: spark.createDataFrame(rows, "k string, n long")
    V.snapshot_commit({"a": mk([("x", 1)]), "b": mk([("z", 5)])}, base,
                      batch_id=0)
    V.snapshot_commit({"a": mk([("x", 2)])}, base, batch_id=1)
    V.snapshot_commit({"a": mk([("y", 3)])}, base, batch_id=2)
    assert len(V._read_txn(base, 3)["tables"]["a"]) == 3

    t = V.snapshot_compact(spark, base, "a", target_partitions=1)
    assert t == 4
    assert len(V._read_txn(base, 4)["tables"]["a"]) == 1
    assert _counts(spark, base, "a") == {"x": 3, "y": 3}
    assert _counts(spark, base, "b") == {"z": 5}
    assert V.last_snapshot_batch_id(base) == 2
    # time travel below the compaction still resolves the old dirs
    assert _counts(spark, base, "a", 2) == {"x": 3}
    removed = V.snapshot_vacuum(base, keep_snapshots=1)
    assert len(removed) == 3  # a's three pre-compaction dirs
    assert _counts(spark, base, "a") == {"x": 3, "y": 3}


# --- bucket-digest corpus integrity (operators.layout, r7) -----------------

def test_bucket_digests_deterministic_and_order_invariant(spark):
    from pyspark.sql import functions as F

    from spark_monotasks_spark.operators import layout

    rows = [(i, f"text {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # a shuffled twin must produce identical digests (bucket membership
    # and concat order are pure functions of ids, not input order)
    shuffled = spark.createDataFrame(list(reversed(rows)),
                                     "doc_id long, text string").repartition(7)
    d1 = {r.bucket: (r.n_rows, r.digest)
          for r in layout.bucket_digests(df, n_buckets=8).collect()}
    d2 = {r.bucket: (r.n_rows, r.digest)
          for r in layout.bucket_digests(shuffled, n_buckets=8).collect()}
    assert d1 == d2
    assert sum(n for n, _ in d1.values()) == 40


def test_digest_diff_statuses(spark):
    from pyspark.sql import functions as F

    from spark_monotasks_spark.operators import layout

    v0 = spark.createDataFrame(
        [(0, "a"), (8, "b"),      # bucket 0: unchanged
         (1, "c"),                # bucket 1: will change
         (2, "d")],               # bucket 2: deleted entirely in v1
        "doc_id long, text string")
    v1 = spark.createDataFrame(
        [(0, "a"), (8, "b"),
         (1, "c EDITED"),
         (3, "new")],             # bucket 3: only in v1
        "doc_id long, text string")
    d = layout.digest_diff(
        layout.bucket_digests(v0, n_buckets=8),
        layout.bucket_digests(v1, n_buckets=8),
    )
    got = {r.bucket: (r.n_rows_v0, r.n_rows_v1, r.status) for r in d.collect()}
    assert got == {
        1: (1, 1, "changed"),
        2: (1, 0, "only_v0"),
        3: (0, 1, "only_v1"),
    }
