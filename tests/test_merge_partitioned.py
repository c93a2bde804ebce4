"""Bucket-partitioned merge table: the merge contract it shares with
ParquetTable (each contract test runs over both sinks), plus the pruning
property — a merge only touches the batch's buckets."""

import os
from datetime import datetime

from wms_data_pipeline_spark.operators.merge import ParquetTable
from wms_data_pipeline_spark.operators.merge_partitioned import PartitionedMergeTable

T1, T2 = datetime(2026, 1, 1, 10), datetime(2026, 1, 1, 11)


def _rec(spark, rows):
    return spark.createDataFrame(
        rows, "id string, updated_at timestamp, payload string, payload_hash string"
    )


def _bucket_versions(root):
    out = {}
    if not os.path.exists(root):
        return out
    for d in os.listdir(root):
        if d.startswith("b="):
            ptr = os.path.join(root, d, "_VERSION")
            if os.path.exists(ptr):
                out[d] = open(ptr).read().strip()
    return out


def _read(t):
    return t.read() if isinstance(t, ParquetTable) else t.read_all()


SINKS = (ParquetTable, PartitionedMergeTable)


def _table(spark, sink, path):
    if sink is ParquetTable:
        return ParquetTable(spark, str(path))
    return PartitionedMergeTable(spark, str(path), n_buckets=8)


def test_latest_invariants(spark, tmp_path):
    """The latest-state contract both parquet sinks share: newer wins,
    stale and equal timestamps are rejected and count 0, a replay counts 0
    (also for a NULL ``updated_at`` on both sides — the stored row does
    not change)."""
    for sink in SINKS:
        t = _table(spark, sink, tmp_path / f"latest_{sink.__name__}")
        first = _rec(spark, [("a", T2, "new", "h2"), ("b", T1, "pb", "h1")])
        assert t.upsert_latest(first) == 2
        assert t.upsert_latest(first) == 0  # equal-timestamp replay
        assert t.upsert_latest(_rec(spark, [("a", T1, "old", "h1")])) == 0
        assert t.upsert_latest(_rec(spark, [("a", T2, "equal", "h3")])) == 0
        assert t.upsert_latest(_rec(spark, [("a", datetime(2026, 1, 2), "newest", "h4")])) == 1
        assert {r["id"]: r["payload"] for r in _read(t).collect()} == {"a": "newest", "b": "pb"}

        assert t.upsert_latest(_rec(spark, [("n", None, "stored", "h5")])) == 1
        assert t.upsert_latest(_rec(spark, [("n", None, "incoming", "h6")])) == 0
        assert {r["id"]: r["payload"] for r in _read(t).collect()}["n"] == "stored"


def test_history_rerun_noop(spark, tmp_path):
    """A history rerun is a no-op on both parquet sinks."""
    for sink in SINKS:
        h = _table(spark, sink, tmp_path / f"hist_{sink.__name__}")
        batch = _rec(spark, [("a", T1, "p", "h1"), ("b", T1, "p", "h2")])
        assert h.append_history(batch) == 2
        assert h.append_history(batch) == 0
        assert _read(h).count() == 2


def test_merge_prunes_untouched_buckets(spark, tmp_path):
    root = str(tmp_path / "latest")
    t = PartitionedMergeTable(spark, root, n_buckets=8)
    # seed many keys → several buckets exist
    t.upsert_latest(_rec(spark, [(f"k{i}", T1, f"p{i}", f"h{i}") for i in range(40)]))
    before = _bucket_versions(root)
    assert len(before) > 1
    # single-key update: exactly ONE bucket version may change
    t.upsert_latest(_rec(spark, [("k0", T2, "p0-new", "h0n")]))
    after = _bucket_versions(root)
    changed = [b for b in after if after[b] != before.get(b)]
    assert len(changed) == 1
    assert {r["id"]: r["payload"] for r in t.read_all().collect()}["k0"] == "p0-new"


def test_delete_keys_prunes_buckets(spark, tmp_path):
    """Deletion republishes ONLY the buckets holding targeted keys: the
    untouched bucket's version pointer must not move."""
    import os

    from pyspark.sql import functions as F

    t = PartitionedMergeTable(spark, str(tmp_path / "pt"), n_buckets=8)
    rows = [(f"k{i}", T1, f"p{i}", f"h{i}") for i in range(40)]
    t.upsert_latest(_rec(spark, rows))
    versions_before = {b: t.bucket(b).current_version() for b in range(8)}

    # delete two specific keys -> at most two buckets touched
    forget = spark.createDataFrame([("k3",), ("k17",)], "id string")
    target_buckets = {
        r[0] for r in spark.createDataFrame([("k3",), ("k17",)], "id string")
        .select(F.pmod(F.hash(F.col("id")), F.lit(8))).collect()
    }
    assert t.delete_keys(forget) == 2
    assert t.read_all().count() == 38
    for b in range(8):
        moved = t.bucket(b).current_version() != versions_before[b]
        assert moved == (b in target_buckets and versions_before[b] is not None)
    # idempotent
    assert t.delete_keys(forget) == 0


def test_bucket_merges_release_their_pin(spark, tmp_path):
    """Each bucketed merge releases the batch frame it pins for the bucket
    probe and the per-bucket merges: the persistent-RDD count is the same
    after ``upsert_latest``, ``append_history`` and ``delete_keys`` as
    before each call (it used to grow by one per call)."""
    jsc = spark.sparkContext._jsc
    batch = _rec(spark, [(f"k{i}", T1, f"p{i}", f"h{i}") for i in range(40)])
    latest = PartitionedMergeTable(spark, str(tmp_path / "latest"), n_buckets=8)
    hist = PartitionedMergeTable(spark, str(tmp_path / "hist"), n_buckets=8)
    calls = [
        ("upsert_latest", lambda: latest.upsert_latest(batch), 40),
        ("append_history", lambda: hist.append_history(batch), 40),
        ("delete_keys",
         lambda: latest.delete_keys(spark.createDataFrame([("k3",)], "id string")), 1),
    ]
    for name, call, want in calls:
        pinned = jsc.getPersistentRDDs().size()
        assert call() == want, name
        assert jsc.getPersistentRDDs().size() == pinned, name
