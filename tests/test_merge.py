"""Merge-sink property tests — the reference's integration invariants
(test_staging_repo.py, SURVEY §5): rerun-dedup, newer-wins, equal/older
rejected."""

from datetime import datetime

import pytest

from wms_data_pipeline_spark.operators.merge import (
    ParquetTable,
    history_merge,
    latest_merge,
)


def _rec(spark, rows):
    return spark.createDataFrame(
        rows, "id string, updated_at timestamp, payload string, payload_hash string"
    )


T1 = datetime(2026, 1, 1, 10)
T2 = datetime(2026, 1, 1, 11)


def test_history_rerun_is_noop(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "hist"))
    batch = _rec(spark, [("a", T1, "p", "h1")])
    assert t.append_history(batch) == 1
    assert t.append_history(batch) == 0  # redelivery: ON CONFLICT DO NOTHING
    assert t.read().count() == 1


def test_history_same_key_different_hash_keeps_both(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "hist"))
    t.append_history(_rec(spark, [("a", T1, "p1", "h1")]))
    assert t.append_history(_rec(spark, [("a", T1, "p2", "h2")])) == 1
    assert t.read().count() == 2


def test_history_intra_batch_dup_collapses(spark):
    batch = _rec(spark, [("a", T1, "p", "h1"), ("a", T1, "p", "h1")])
    inserted, full = history_merge(None, batch)
    assert inserted.count() == 1


def test_latest_newer_wins_older_and_equal_rejected(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "latest"))
    assert t.upsert_latest(_rec(spark, [("a", T2, "new", "h2")])) == 1
    # strictly older: ignored
    assert t.upsert_latest(_rec(spark, [("a", T1, "old", "h1")])) == 0
    assert t.read().collect()[0]["payload"] == "new"
    # equal timestamp: stored row survives (strict >)
    assert t.upsert_latest(_rec(spark, [("a", T2, "equal-ts", "h3")])) == 0
    assert t.read().collect()[0]["payload"] == "new"
    # strictly newer: replaces
    assert t.upsert_latest(_rec(spark, [("a", datetime(2026, 1, 2), "newest", "h4")])) == 1
    assert t.read().collect()[0]["payload"] == "newest"


def test_latest_merge_pure_function_tie_prefers_existing(spark):
    existing = _rec(spark, [("a", T1, "stored", "h1")])
    batch = _rec(spark, [("a", T1, "incoming", "h2")])
    out = latest_merge(existing, batch).collect()
    assert len(out) == 1 and out[0]["payload"] == "stored"


def test_latest_insert_new_keys(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "latest"))
    t.upsert_latest(_rec(spark, [("a", T1, "pa", "h1")]))
    n = t.upsert_latest(_rec(spark, [("b", T1, "pb", "h2")]))
    assert n == 1
    assert t.read().count() == 2


def test_publish_recovers_from_crashed_uncommitted_version(spark, tmp_path):
    """A crash between the parquet write and the _VERSION pointer flip leaves
    an orphan v=N+1 dir. The pointer is the commit record, so a retried
    publish must reclaim the orphan, not wedge on 'path already exists'."""
    root = tmp_path / "latest"
    t = ParquetTable(spark, str(root))
    assert t.upsert_latest(_rec(spark, [("a", T1, "v1", "h1")])) == 1
    # simulate the crash: stale uncommitted v=2 exists, pointer still at 1
    _rec(spark, [("zzz", T1, "garbage", "hx")]).write.parquet(str(root / "v=2"))
    assert t.current_version() == 1
    # retried publish succeeds and the committed state is the merge result
    assert t.upsert_latest(_rec(spark, [("a", T2, "v2", "h2")])) == 1
    assert t.current_version() == 2
    rows = t.read().collect()
    assert [r["payload"] for r in rows] == ["v2"]


def test_partitioned_publish_recovers_from_crashed_version(spark, tmp_path):
    from wms_data_pipeline_spark.operators.merge_partitioned import (
        PartitionedMergeTable,
    )

    t = PartitionedMergeTable(spark, str(tmp_path / "pt"), n_buckets=4)
    assert t.upsert_latest(_rec(spark, [("a", T1, "v1", "h1")])) == 1
    # find a's bucket dir and plant a stale uncommitted v=2 in it
    import os

    (bdir,) = [d for d in os.listdir(tmp_path / "pt") if d.startswith("b=")]
    _rec(spark, [("zzz", T1, "garbage", "hx")]).write.parquet(
        str(tmp_path / "pt" / bdir / "v=2")
    )
    assert t.upsert_latest(_rec(spark, [("a", T2, "v2", "h2")])) == 1
    rows = t.read_all().collect()
    assert [r["payload"] for r in rows] == ["v2"]


def test_corrupt_pointer_refuses_publish_and_read(spark, tmp_path):
    """Advisor r2: a garbage _VERSION must fail loudly, not be treated as a
    fresh table (which would let the next publish overwrite committed v=1)."""
    from wms_data_pipeline_spark.operators.merge import CorruptTablePointerError

    root = tmp_path / "latest"
    t = ParquetTable(spark, str(root))
    t.upsert_latest(_rec(spark, [("a", T1, "v1", "h1")]))
    (root / "_VERSION").write_text("not-a-number")
    with pytest.raises(CorruptTablePointerError):
        t.read()
    with pytest.raises(CorruptTablePointerError):
        t.upsert_latest(_rec(spark, [("a", T2, "v2", "h2")]))


def test_lost_pointer_with_committed_dirs_refuses_publish(spark, tmp_path):
    """Pointer deleted after a committed v=2 flip: publishing would silently
    overwrite committed data, so the table must refuse. (A lone uncommitted
    v=1 without a pointer is still the reclaimable crashed-first-publish.)"""
    from wms_data_pipeline_spark.operators.merge import CorruptTablePointerError

    root = tmp_path / "latest"
    t = ParquetTable(spark, str(root))
    t.upsert_latest(_rec(spark, [("a", T1, "v1", "h1")]))
    t.upsert_latest(_rec(spark, [("a", T2, "v2", "h2")]))  # commits v=2
    (root / "_VERSION").unlink()
    with pytest.raises(CorruptTablePointerError):
        t.upsert_latest(_rec(spark, [("b", T2, "v3", "h3")]))


def test_delete_keys_rejects_ambiguous_multi_column_frame(spark, tmp_path):
    """Advisor r2: a multi-column key frame without the key column must not
    silently delete by whatever column is first."""
    t = ParquetTable(spark, str(tmp_path / "latest"))
    t.upsert_latest(_rec(spark, [("a", T1, "v1", "h1")]))
    bad = spark.createDataFrame([("h1", "a")], "payload_hash string, other string")
    with pytest.raises(ValueError, match="single-column"):
        t.delete_keys(bad)
    # a multi-column frame CONTAINING the key column selects by name
    good = spark.createDataFrame([("a", "x")], "id string, noise string")
    assert t.delete_keys(good) == 1


def test_upsert_latest_is_one_pass(spark, tmp_path):
    """The affected count is an observed metric of the publish write: an
    upsert onto an existing table runs the merge once (at most 3 jobs) and
    pins no blocks, where a checkpoint-then-rejoin count ran 7 jobs and
    left one checkpoint pinned per call."""
    t = ParquetTable(spark, str(tmp_path / "latest"))
    t.upsert_latest(_rec(spark, [(f"k{i}", T1, "p", f"h{i}") for i in range(50)]))
    batch = _rec(spark, [("k1", T2, "q", "hq"), ("new", T2, "q", "hn")])
    sc = spark.sparkContext
    pinned = len(sc._jsc.getPersistentRDDs())
    sc.setJobGroup("upsert-one-pass", "upsert_latest job count")
    try:
        assert t.upsert_latest(batch) == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("upsert-one-pass")) <= 3
    assert len(sc._jsc.getPersistentRDDs()) == pinned


@pytest.mark.parametrize("hook", ["read", "_version_path"])
def test_concurrent_loser_whose_snapshot_was_pruned_retries(spark, tmp_path, hook):
    """Deterministic form of the retry-loop race: the winner publishes AND
    prunes (keep_versions=1) the version the loser is merging — right after
    the loser's ``read()`` returned (the merge's write then scans deleted
    files) or right after it resolved the snapshot's path (the read itself
    then lists a deleted dir). The loser must get the retryable
    ConcurrentPublishError — not a file-not-found from the pruned
    snapshot — and its retry must land on top of the winner."""
    from wms_data_pipeline_spark.operators.merge import ConcurrentPublishError

    root = str(tmp_path / "race")
    winner = ParquetTable(spark, root, concurrent_writers=True)
    winner.upsert_latest(_rec(spark, [("seed", T1, "base", "h0")]))
    loser = ParquetTable(spark, root, concurrent_writers=True)
    real = getattr(loser, hook)

    def then_lose(*args, **kwargs):
        out = real(*args, **kwargs)
        winner.upsert_latest(_rec(spark, [("w", T2, "winner", "hw")]))
        return out

    setattr(loser, hook, then_lose)
    with pytest.raises(ConcurrentPublishError):
        loser.upsert_latest(_rec(spark, [("l", T2, "loser", "hl")]))
    delattr(loser, hook)
    assert loser.upsert_latest(_rec(spark, [("l", T2, "loser", "hl")])) == 1
    got = {r["id"]: r["payload"] for r in loser.read().collect()}
    assert got == {"seed": "base", "w": "winner", "l": "loser"}
    assert loser.current_version() == 3


def test_concurrent_write_failing_on_pruned_snapshot_is_a_lost_race(spark, tmp_path):
    """A data write that fails because a newer commit's retention prune
    deleted the snapshot it scans is the lost race, reported as
    ConcurrentPublishError with the loser's partial dir removed."""
    from wms_data_pipeline_spark import fsio
    from wms_data_pipeline_spark.operators.merge import ConcurrentPublishError

    root = str(tmp_path / "race")
    t = ParquetTable(spark, root, concurrent_writers=True)
    t.upsert_latest(_rec(spark, [("a", T1, "v1", "h1")]))
    stale = latest_merge(t.read(), _rec(spark, [("b", T1, "mine", "hb")]))
    ParquetTable(spark, root, concurrent_writers=True).upsert_latest(
        _rec(spark, [("a", T2, "v2", "h2")])
    )  # commits version 2 and prunes version 1
    with pytest.raises(ConcurrentPublishError):
        t._publish_concurrent(stale, 2)
    data_dirs = [n for n in fsio.TableFS(spark, root).list_names(root) if n.startswith("v=")]
    assert data_dirs == [t._marker_dir(2)]
    assert t.read().collect()[0]["payload"] == "v2"


# ------------------------------------------------ history as a segment log
def _files(root):
    """Every file under ``root`` (relative path -> bytes)."""
    import os

    out = {}
    for dp, _dn, fn in os.walk(root):
        for f in fn:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _keys(df):
    return sorted((r["id"], r["updated_at"], r["payload_hash"]) for r in df.collect())


def _batch(spark, tag, n=3, day=1):
    return _rec(spark, [(f"{tag}{i}", datetime(2026, 1, day), tag, f"h{tag}{i}") for i in range(n)])


def test_history_append_writes_only_the_new_rows(spark, tmp_path):
    """A second append leaves the first version's files byte-identical and
    writes a new dir holding exactly the inserted rows, which a manifest
    joins to the first."""
    root = tmp_path / "hist"
    t = ParquetTable(spark, str(root))
    assert t.append_history(_batch(spark, "a")) == 3
    before = _files(root / "v=1")
    assert t.append_history(_batch(spark, "a").unionByName(_batch(spark, "b", 2))) == 2
    assert _files(root / "v=1") == before
    assert spark.read.parquet(str(root / "v=2")).count() == 2
    assert (root / "v=2" / "_manifest").read_text().split() == ["v=1", "v=2"]
    assert _keys(t.read()) == _keys(_batch(spark, "a").unionByName(_batch(spark, "b", 2)))


def test_zero_insert_append_leaves_the_root_unchanged(spark, tmp_path):
    root = tmp_path / "hist"
    t = ParquetTable(spark, str(root))
    t.append_history(_batch(spark, "a"))
    t.append_history(_batch(spark, "b"))
    before = _files(root)
    assert t.append_history(_batch(spark, "b")) == 0
    assert _files(root) == before
    assert t.current_version() == 2


def test_noop_upsert_commits_no_version(spark, tmp_path):
    """A redelivered-only upsert changes nothing, so it commits nothing: the
    retained versions stay and the root is as it was."""
    root = tmp_path / "latest"
    t = ParquetTable(spark, str(root), keep_versions=2)
    t.upsert_latest(_rec(spark, [("a", T1, "v1", "h1")]))
    t.upsert_latest(_rec(spark, [("a", T2, "v2", "h2"), ("b", T1, "b", "hb")]))
    before = _files(root)
    assert t.upsert_latest(_rec(spark, [("a", T2, "v2", "h2")])) == 0
    assert t.versions() == [1, 2] and t.current_version() == 2
    assert _files(root) == before


def test_segmented_time_travel_with_retention(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "hist"), keep_versions=2)
    for tag in "abc":
        t.append_history(_batch(spark, tag))
    assert t.versions() == [2, 3]
    assert _keys(t.read(version=2)) == _keys(_batch(spark, "a").unionByName(_batch(spark, "b")))
    assert t.read().count() == 9 and t.read(version=3).count() == 9
    with pytest.raises(ValueError, match="was pruned"):
        t.read(version=1)


def test_retention_deletes_only_unreferenced_dirs(spark, tmp_path):
    """Retention keeps every dir a retained version's manifest lists and
    deletes the rest: a crashed loser's orphan, and the segments a fold
    left behind."""
    import os

    root = tmp_path / "hist"
    t = ParquetTable(spark, str(root))
    t.append_history(_batch(spark, "a"))
    _batch(spark, "zz").write.parquet(str(root / "v=1-deadbeef"))  # orphan
    t.append_history(_batch(spark, "b"))
    t.append_history(_batch(spark, "c"))
    assert sorted(n for n in os.listdir(root) if n.startswith("v=")) == ["v=1", "v=2", "v=3"]
    assert t.versions() == [3] and t.read().count() == 9
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "3")
    try:
        t.append_history(_batch(spark, "d"))  # 4 dirs > 3: folds
    finally:
        spark.conf.unset("spark.sql.sources.parallelPartitionDiscovery.threshold")
    assert sorted(n for n in os.listdir(root) if n.startswith("v=")) == ["v=4"]
    assert not (root / "v=4" / "_manifest").exists()
    assert t.read().count() == 12


def test_history_folds_past_the_discovery_threshold(spark, tmp_path):
    """A manifest never lists more dirs than Spark lists without a job
    (32 by default): the 33rd append folds the log into one full dir."""
    import os

    root = tmp_path / "hist"
    t = ParquetTable(spark, str(root))
    rows = [(f"k{i}", T1, "p", f"h{i}") for i in range(33)]
    for row in rows[:32]:
        assert t.append_history(_rec(spark, [row])) == 1
    assert len((root / "v=32" / "_manifest").read_text().split()) == 32
    assert t.append_history(_rec(spark, rows[32:] + rows[:1])) == 1
    assert [n for n in os.listdir(root) if n.startswith("v=")] == ["v=33"]
    assert not (root / "v=33" / "_manifest").exists()
    assert _keys(t.read()) == _keys(_rec(spark, rows))


class _CommitCrash(BaseException):
    pass


@pytest.mark.parametrize("concurrent", [False, True])
def test_history_crash_before_commit_reruns_converge(spark, tmp_path, monkeypatch, concurrent):
    """A process that dies between the segment write (manifest included)
    and the commit record exposes nothing; the rerun commits the batch
    once, and the orphan is swept when retention passes it."""
    from wms_data_pipeline_spark import fsio

    root = tmp_path / "hist"
    t = ParquetTable(spark, str(root), concurrent_writers=concurrent)
    t.append_history(_batch(spark, "a"))
    commit = "create_exclusive" if concurrent else "write_text_atomic"
    real = getattr(fsio.TableFS, commit)

    def dies(self, path, text):
        if path.endswith(("/_VERSION", "/_commits/2")):
            raise _CommitCrash(path)
        return real(self, path, text)

    monkeypatch.setattr(fsio.TableFS, commit, dies)
    with pytest.raises(_CommitCrash):
        t.append_history(_batch(spark, "b"))
    monkeypatch.setattr(fsio.TableFS, commit, real)
    assert t.current_version() == 1 and t.read().count() == 3
    assert t.append_history(_batch(spark, "b")) == 3
    assert t.append_history(_batch(spark, "c")) == 3
    assert t.append_history(_batch(spark, "b")) == 0
    assert _keys(t.read()) == _keys(
        _batch(spark, "a").unionByName(_batch(spark, "b")).unionByName(_batch(spark, "c"))
    )
    t.append_history(_batch(spark, "d"))
    live = set(t._dirs(t.current_version()))
    assert {n for n in fsio.TableFS(spark, str(root)).list_names(str(root)) if n.startswith("v=")} == live


@pytest.mark.parametrize("layout", ["pointer", "markers", "buckets"])
def test_parent_layout_tables_read_then_take_a_segment(spark, tmp_path, layout):
    """Tables written before manifests existed read the same rows, and the
    next append adds a segment on top of their full dir."""
    from wms_data_pipeline_spark.operators.merge_partitioned import PartitionedMergeTable

    root = tmp_path / "old"
    base = _batch(spark, "a")
    if layout == "buckets":
        pt = PartitionedMergeTable(spark, str(root), n_buckets=2)
        pt.upsert_latest(base)  # full-table publishes, one per bucket
        assert _keys(pt.read_all()) == _keys(base)
        assert pt.append_history(base.unionByName(_batch(spark, "b"))) == 3
        assert _keys(pt.read_all()) == _keys(base.unionByName(_batch(spark, "b")))
        manifests = list(root.glob("b=*/v=2/_manifest"))
        assert manifests and all(m.read_text().split() == ["v=1", "v=2"] for m in manifests)
        return
    if layout == "pointer":
        base.write.parquet(str(root / "v=3"))
        (root / "_VERSION").write_text("3")
        t = ParquetTable(spark, str(root))
    else:
        base.write.parquet(str(root / "v=3-0badf00d"))
        (root / "_commits").mkdir()
        (root / "_commits" / "3").write_text("v=3-0badf00d")
        t = ParquetTable(spark, str(root), concurrent_writers=True)
    assert _keys(t.read()) == _keys(base) and t.versions() == [3]
    old = t._version_path(3).rsplit("/", 1)[1]
    assert t.append_history(base.unionByName(_batch(spark, "b"))) == 3
    dirs = t._dirs(4)
    assert len(dirs) == 2 and dirs[0] == old
    assert _keys(t.read()) == _keys(base.unionByName(_batch(spark, "b")))
    assert t.versions() == [4]


def test_append_history_is_one_write(spark, tmp_path, jobs_of):
    """The inserted count is observed on the segment write: an append onto
    an existing history runs the anti-join and the write once (at most 4
    jobs, where a count-then-publish ran 8)."""
    t = ParquetTable(spark, str(tmp_path / "hist"))
    t.append_history(_rec(spark, [(f"k{i}", T1, "p", f"h{i}") for i in range(50)]))
    batch = _rec(spark, [("k1", T1, "p", "h1"), ("new", T2, "q", "hn")])
    n, jobs = jobs_of(lambda: t.append_history(batch))
    assert n == 1 and len(jobs) <= 4


@pytest.mark.parametrize("hook", ["read", "_version_path", "_seal"])
def test_concurrent_history_append_loser_retries_on_top(spark, tmp_path, hook):
    """The concurrent-writer interleavings on ``append_history``: the winner
    appends right after the loser read its snapshot, resolved its path, or
    wrote its segment. The loser gets ConcurrentPublishError, the winner's
    prune has deleted none of the loser's snapshot files, and the retry
    lands on top of the winner."""
    import os

    from wms_data_pipeline_spark.operators.merge import ConcurrentPublishError

    root = str(tmp_path / "race")
    winner = ParquetTable(spark, root, concurrent_writers=True)
    winner.append_history(_batch(spark, "s"))
    winner.append_history(_batch(spark, "t"))
    loser = ParquetTable(spark, root, concurrent_writers=True)
    snapshot = [f.split(":", 1)[1] for f in loser.read().inputFiles()]
    real = getattr(loser, hook)
    fired = []

    def then_lose(*args, **kwargs):
        out = real(*args, **kwargs)
        if not fired:
            fired.append(winner.append_history(_batch(spark, "w")))
        return out

    setattr(loser, hook, then_lose)
    with pytest.raises(ConcurrentPublishError):
        loser.append_history(_batch(spark, "l"))
    delattr(loser, hook)
    assert fired == [3] and all(os.path.exists(f) for f in snapshot)
    assert loser.append_history(_batch(spark, "l")) == 3
    assert _keys(loser.read()) == _keys(
        _batch(spark, "s").unionByName(_batch(spark, "t"))
        .unionByName(_batch(spark, "w")).unionByName(_batch(spark, "l"))
    )
    assert loser.current_version() == 4
