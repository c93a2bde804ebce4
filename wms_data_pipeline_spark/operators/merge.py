"""Idempotent merge sinks (SURVEY §2.1 ops 19-21).

Reference semantics (services/staging/app/staging_repo.py):
- **history append, global dedup** (:25-58): INSERT … ON CONFLICT
  ``(id, updated_at, payload_hash)`` DO NOTHING — re-runs are no-ops; the
  same key with a *different* payload_hash keeps both versions.
- **latest-state conditional upsert, newer-wins** (:62-99): ON CONFLICT (id)
  DO UPDATE … WHERE ``excluded.updated_at > target.updated_at`` — strictly
  newer replaces, equal-or-older is ignored (out-of-order safe).
- batching/transaction scope (:18-23, 53-57) is subsumed by Spark's
  partition-parallel writes + per-job atomic commit.

Two layers here:
1. Pure DataFrame transforms (``history_merge``/``latest_merge``) — the
   semantics, testable and composable (also used by streaming foreachBatch).
2. ``ParquetTable`` — a minimal versioned-directory table giving atomic
   publish + MERGE on plain parquet, keeping the engine dependency-free.
   It holds the ONE pointer protocol (``v=<n>/`` + ``_VERSION``, or commit
   markers under ``concurrent_writers``), crash guards and retention of
   every parquet sink: the control tables wrap it, and
   ``merge_partitioned.PartitionedMergeTable`` is one ParquetTable per
   bucket. On a real lake this is a Delta/Iceberg MERGE
   (``whenNotMatchedInsertAll`` / ``whenMatchedUpdateAll(condition=…)``)
   behind the same function signatures.

Counts are metrics of the merge that runs, not extra queries (the
Structured Streaming progress-metrics practice): ``upsert_latest`` counts
the batch-side winners through an ``Observation`` on its publish write, so
the merge runs once and the old snapshot is read once.

Scale notes: both merges shuffle once on the business key. ``history_merge``
uses a left-anti join (broadcast-able when the incoming batch is small
relative to history — Catalyst/AQE decides); ``latest_merge`` is a windowed
keep-max over (existing ∪ batch). For 100 TB latest-state tables the real
deployment partitions the table by a stable bucket of ``id`` so the merge
rewrites only touched partitions — with Delta/Iceberg that's MERGE + dynamic
partition/file pruning; the pure-parquet fallback here rewrites the table and
is meant for control/latest tables that are orders of magnitude smaller than
the fact history.
"""

from __future__ import annotations

import time
import uuid
from typing import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from wms_data_pipeline_spark import fsio

HISTORY_KEY: tuple[str, ...] = ("id", "updated_at", "payload_hash")  # init_dw.sql:31-40
LATEST_KEY: str = "id"  # init_dw.sql:42-50

# ``ParquetTable._publish`` base for callers that do not track the version
# their rows were built from (the single-writer control tables)
_UNCHECKED = object()


class CorruptTablePointerError(RuntimeError):
    """The _VERSION pointer is unreadable (or absent) while committed
    version directories exist — publishing would silently overwrite
    committed data, so the table refuses until the pointer is restored."""


class ConcurrentPublishError(RuntimeError):
    """Another writer committed this version first (optimistic-concurrency
    loss under ``concurrent_writers=True``). The losing publish wrote NO
    visible state — re-read the table and retry the merge on top of the
    winner's version."""


def _dir_version(name: str) -> "int | None":
    """Version number a data-dir basename encodes: ``v=<n>`` (single-writer
    layout) or ``v=<n>-<token>`` (concurrent-writer layout); None for
    anything else."""
    if not name.startswith("v="):
        return None
    head = name.split("=", 1)[1].split("-", 1)[0]
    try:
        return int(head)
    except ValueError:
        return None


def _single_key_column(keys: DataFrame, key: str) -> str:
    """Resolve the key column of a deletion-key DataFrame.

    A multi-column frame silently deleting by whatever column happens to be
    first is a data-loss bug, so: prefer a column named ``key`` if present,
    accept a single-column frame positionally, and reject anything else."""
    if key in keys.columns:
        return key
    if len(keys.columns) == 1:
        return keys.columns[0]
    raise ValueError(
        f"delete_keys expects a single-column DataFrame or one containing "
        f"{key!r}; got columns {keys.columns}"
    )


def history_merge(
    existing: DataFrame | None,
    batch: DataFrame,
    key: Sequence[str] = HISTORY_KEY,
) -> tuple[DataFrame, DataFrame]:
    """Op 19 semantics: returns ``(new_history_rows, full_history)``.

    ``new_history_rows`` = batch rows whose 3-col key is absent from existing
    history (the ON CONFLICT DO NOTHING survivors); duplicates *within* the
    batch also collapse to one row. ``full_history`` = existing ∪ new.
    """
    batch_dedup = batch.dropDuplicates(list(key))
    if existing is None:
        return batch_dedup, batch_dedup
    inserted = batch_dedup.join(existing.select(*key), on=list(key), how="left_anti")
    return inserted, existing.unionByName(inserted)


def _latest_winners(
    existing: DataFrame | None,
    batch: DataFrame,
    key: str = LATEST_KEY,
    ts_col: str = "updated_at",
    tiebreak_col: str | None = "payload_hash",
) -> DataFrame:
    """``latest_merge``'s output still carrying ``__is_existing`` — 1 where
    the stored row survived, 0 where a batch row won — so a sink can count
    affected rows off the very rows it writes."""
    b = batch.withColumn("__is_existing", F.lit(0))
    if existing is not None:
        merged = existing.withColumn("__is_existing", F.lit(1)).unionByName(b)
    else:
        merged = b
    order = [F.col(ts_col).desc(), F.col("__is_existing").desc()]
    if tiebreak_col and tiebreak_col in batch.columns:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(key).orderBy(*order)
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_merge(
    existing: DataFrame | None,
    batch: DataFrame,
    key: str = LATEST_KEY,
    ts_col: str = "updated_at",
    tiebreak_col: str | None = "payload_hash",
) -> DataFrame:
    """Op 20 semantics: newer-wins latest state.

    Strict ``>`` — an incoming row with ``updated_at`` equal to (or older
    than) the stored row must NOT replace it (pinned by the reference's
    integration test test_staging_repo.py:29-73). We encode that by ordering
    existing rows ABOVE batch rows at equal timestamps (``__is_existing``
    desc), so the stored row survives ties. ``tiebreak_col`` makes intra-batch
    equal-timestamp conflicts deterministic.
    """
    return _latest_winners(existing, batch, key, ts_col, tiebreak_col).drop(
        "__is_existing"
    )


def apply_changes(
    current: DataFrame | None,
    changes: DataFrame,
    key: str,
    order_by: Sequence[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Tombstone-aware CDC apply (the Debezium/`APPLY CHANGES` shape,
    extending op 20's newer-wins with deletes): the newest row per key
    across ``current`` ∪ ``changes`` wins, and if that winner is a
    ``delete_op`` the key disappears from the output. ``current`` rows
    carry no op column (a compacted snapshot is upserts by construction —
    tombstone winners were already dropped by the previous apply), so
    snapshot-then-delta composes to the same state as replaying the full
    changelog: compaction only ever removes rows that could never win.

    One shuffle on ``key`` (the row_number window); ``order_by`` must be
    a total order within a key (e.g. ts + a unique sequence column) or
    the winner is nondeterministic. Output drops ``op_col``."""
    if op_col not in changes.columns:
        raise ValueError(f"apply_changes: changes lacks op column {op_col!r}")
    ch = changes
    if current is not None:
        if op_col in current.columns:
            raise ValueError(
                f"apply_changes: current must not carry {op_col!r} — pass a "
                "compacted snapshot (tombstones already applied)"
            )
        ch = ch.unionByName(current.withColumn(op_col, F.lit("U")))
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        ch.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn", op_col)
    )


class ParquetTable:
    """Versioned-directory parquet table: atomic publish via
    write-new-version-then-flip, mirroring the reference's tmp→rename
    publish (writer_landing.py:38-42) at table granularity.

    Layout: ``<root>/v=<N>/part-*.parquet`` + ``<root>/_VERSION`` pointer.
    Single-writer discipline assumed (reference has the same: one staging
    run per entity); multi-writer needs Delta/Iceberg optimistic concurrency
    (SURVEY §7.3 hard part 3).

    CLUSTER STORAGE (r12): all pointer/stale-dir I/O goes through the
    Hadoop FileSystem API (``fsio.TableFS``), so the warehouse root — and
    with it every ParquetTable-backed component: history/latest sinks,
    ``WatermarkStore``, ``RunLog``, ``QualityAuditLog`` — can live on any
    scheme Spark reads (``file://``, ``hdfs://``, ``s3a://``). Pointer-flip
    atomicity per scheme is documented in ``fsio``; on S3 the flip is
    copy+delete (non-atomic for concurrent readers — graduate to
    Delta/Iceberg for that).

    TIME TRAVEL (r11): ``keep_versions`` retains the last K committed
    versions on disk (default 1 — the original prune-immediately
    behavior); ``read(version=N)`` reads a retained snapshot and
    ``versions()`` lists them — the Delta ``VERSION AS OF`` story on the
    dependency-free sink, the audit shape "what did latest-state look
    like before batch N". Retention is version-COUNT based because every
    publish rewrites the full table (storage = K x table size; a real
    deployment graduates to Delta's log+data layout for long retention).

    MULTI-WRITER (r13, VERDICT r12 #7): ``concurrent_writers=True``
    switches the COMMIT RECORD from the rewritten ``_VERSION`` pointer to
    create-exclusive markers ``_commits/<n>`` (content = the data dir's
    basename). Each publish writes its data to a UNIQUE dir
    (``v=<n>-<token>``) first, then claims the marker: exactly one racer
    wins (kernel O_EXCL on file://, namenode-atomic create on hdfs:// —
    NOT safe on s3a, see ``fsio``); losers raise
    ``ConcurrentPublishError`` having exposed no state, and their dirs are
    swept by retention. A merge also loses when the version it read
    (``_snapshot``) is no longer current, or when a newer commit's
    retention prune deleted that snapshot under its read or write —
    never with a raw file-not-found. Reads are marker-aware
    regardless of the flag, so
    readers need no configuration; a legacy ``_VERSION`` table upgrades on
    its first concurrent publish (old snapshots stay time-travel
    readable). The default (False) keeps the byte-identical single-writer
    layout the reference also assumes.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keep_versions: int = 1,
        concurrent_writers: bool = False,
    ):
        if keep_versions < 1:
            raise ValueError(
                f"keep_versions must be >= 1, got {keep_versions}"
            )
        self.spark = spark
        self.root = root
        self.keep_versions = keep_versions
        self.concurrent_writers = concurrent_writers
        self._fs = fsio.TableFS(spark, root)

    # -- version plumbing ---------------------------------------------------
    @property
    def _pointer(self) -> str:
        return fsio.join(self.root, "_VERSION")

    @property
    def _commits(self) -> str:
        return fsio.join(self.root, "_commits")

    def _marker_versions(self) -> "list[int]":
        return sorted(
            int(n) for n in self._fs.list_names(self._commits) if n.isdigit()
        )

    # create_exclusive creates the marker and writes its content in two
    # steps, so a reader racing a HEALTHY publish can observe an empty
    # marker for a moment (ADVICE r13 medium). Retry briefly before
    # concluding the marker is a crash residue.
    _MARKER_READ_RETRIES = 4
    _MARKER_RETRY_SLEEP_S = 0.05

    def _marker_dir(self, v: int) -> "str | None":
        """Data-dir basename a commit marker names, or None if version ``v``
        has no marker (legacy ``v=<n>`` layout). Empty/garbage content is
        retried briefly (a racing publish is between its exclusive create
        and its content write); content that stays unreadable past the
        retries means the publish crashed inside that window and raises."""
        for attempt in range(self._MARKER_READ_RETRIES):
            raw = self._fs.read_text(fsio.join(self._commits, str(v)))
            if raw is None:
                return None
            raw = raw.strip()
            if raw.startswith("v="):
                return raw
            if attempt + 1 < self._MARKER_READ_RETRIES:
                time.sleep(self._MARKER_RETRY_SLEEP_S)
        # The dir name is recoverable from the on-disk v=<n>-<token> listing.
        raise CorruptTablePointerError(
            f"unreadable commit marker for version {v} at "
            f"{self._commits!r} (content {raw!r}); restore it to the "
            f"v={v}-<token> directory basename before reading"
        )

    def current_version(self) -> int | None:
        markers = self._marker_versions()
        # Serve the highest marker whose CONTENT is valid: a crashed (or
        # still-in-flight past the retry budget) top marker must not fail
        # reads of a table whose previous version is intact and servable
        # (ADVICE r13 medium). CorruptTablePointerError is reserved for an
        # EXPLICIT read(version=N) of the crashed version.
        for v in reversed(markers):
            try:
                self._marker_dir(v)
                return v
            except CorruptTablePointerError:
                continue
        raw = self._fs.read_text_committed(self._pointer)
        if raw is None:
            return None
        raw = raw.strip()
        try:
            return int(raw)
        except ValueError:
            # Pointer exists but is garbage: committed data may be live in a
            # v=N dir; treating this as "fresh" would let the next publish
            # overwrite v=1. Fail loudly instead (advisor r2).
            raise CorruptTablePointerError(
                f"unreadable _VERSION pointer at {self._pointer!r} "
                f"(content {raw!r}); restore it to the highest complete "
                f"v=N directory before reading or publishing"
            )

    def _version_path(self, v: int) -> str:
        name = self._marker_dir(v)
        return fsio.join(self.root, name if name is not None else f"v={v}")

    def read(self, version: "int | None" = None) -> DataFrame | None:
        cur = self.current_version()
        if cur is None:
            if version is not None:
                raise ValueError(
                    f"version {version} requested but table has no commits"
                )
            return None
        if version is None:
            version = cur
        elif version > cur:
            raise ValueError(
                f"version {version} not committed yet (current is {cur})"
            )
        elif not self._fs.is_dir(self._version_path(version)):
            raise ValueError(
                f"version {version} was pruned (keep_versions="
                f"{self.keep_versions}; retained: {self.versions()})"
            )
        return self.spark.read.parquet(self._version_path(version))

    def versions(self) -> "list[int]":
        """Committed versions still on disk (ascending) — candidates for
        ``read(version=...)``. Excludes any uncommitted v=N+1 garbage a
        crashed publish may have left (the pointer is the commit
        record)."""
        cur = self.current_version()
        if cur is None:
            return []
        found = set()
        for name in self._fs.list_names(self.root):
            n = _dir_version(name)
            if n is not None and n <= cur:
                found.add(n)
        # under concurrent_writers a loser's v=<n>-<token> dir can linger
        # until retention sweeps it; a version counts only if the dir its
        # COMMIT MARKER names (or the plain v=<n> dir) is actually on disk.
        # A crashed content-less marker (skipped by current_version) is not
        # a committed version — drop it rather than raising.
        out = []
        for n in sorted(found):
            try:
                if self._fs.is_dir(self._version_path(n)):
                    out.append(n)
            except CorruptTablePointerError:
                continue
        return out

    def _snapshot(self) -> "tuple[int | None, DataFrame | None]":
        """The version a merge builds on, and its rows. The version is taken
        BEFORE the read, so a commit racing in between can only make a
        concurrent publish lose (and retry), never overwrite the racer."""
        base = self.current_version()
        try:
            return base, self.read()
        except (Py4JJavaError, PySparkException) as exc:
            # the read lists and footers the snapshot's files; a newer
            # commit's retention prune can delete them mid-read
            if not self.concurrent_writers or self.current_version() == base:
                raise
            raise ConcurrentPublishError(
                f"{self.root!r} moved past version {base} while the merge "
                "read it; re-read and retry"
            ) from exc

    def _publish(self, df: DataFrame, base=_UNCHECKED) -> int:
        """Commit ``df`` as the next version. ``base`` is the version the
        merge that built ``df`` read (``_snapshot``); under
        ``concurrent_writers`` a publish whose base is no longer current
        loses, since committing it would drop the newer commit's rows."""
        cur = self.current_version()
        if cur is None:
            # Fresh table vs lost pointer: a crashed FIRST publish leaves at
            # most an uncommitted version-1 dir (reclaimable — the commit
            # record is the pointer flip / marker claim). But any v>=2 dir
            # can only exist after a successful commit (old dirs are pruned
            # post-commit), so a missing record alongside one means it was
            # lost — publishing would overwrite committed data (advisor r2).
            stale = [
                name for name in self._fs.list_names(self.root)
                if (_dir_version(name) or 0) >= 2
            ]
            if stale:
                raise CorruptTablePointerError(
                    f"commit record missing at {self._pointer!r} but "
                    f"committed version dirs exist: {sorted(stale)}; restore "
                    f"the pointer before publishing"
                )
        v = (cur or 0) + 1
        if self.concurrent_writers:
            if base is not _UNCHECKED and cur != base:
                raise ConcurrentPublishError(
                    f"{self.root!r} moved from version {base} to {cur} "
                    "since the merge read it; re-read and retry"
                )
            # current_version skips markers with crashed (content-less)
            # claims, so claim STRICTLY ABOVE every existing marker number —
            # otherwise a publish after such a crash would collide with the
            # dead claim forever (create_exclusive can never win a marker
            # that already exists).
            markers = self._marker_versions()
            if markers:
                v = max(v, markers[-1] + 1)
            return self._publish_concurrent(df, v)
        if cur is not None and self._marker_versions():
            # current_version resolved from commit markers: a _VERSION flip
            # here would be INVISIBLE to marker-aware readers (markers win),
            # silently splitting the table's history across two protocols.
            raise ValueError(
                f"table at {self.root!r} was published with "
                "concurrent_writers=True (commit markers exist); open it "
                "with concurrent_writers=True to publish"
            )
        path = self._version_path(v)
        # The _VERSION pointer flip is the commit record, so a v=N+1 dir
        # without a pointer referencing it is garbage from a crashed publish
        # (crash between write and flip). mode("overwrite") lets a retried
        # publish reclaim it instead of erroring forever on "path exists".
        df.write.mode("overwrite").parquet(path)
        # Pointer flip through the Hadoop FS (write tmp + rename); the
        # parquet write above already created self.root on any scheme.
        self._fs.write_text_atomic(self._pointer, str(v))
        self._prune(v)
        return v

    def _publish_concurrent(self, df: DataFrame, v: int) -> int:
        """Optimistic-concurrency publish: data to a UNIQUE dir first, then
        one create-exclusive claim on the commit marker. The loser has
        exposed no state (its dir is unreferenced) and cleans up; readers
        never see a partial version because the marker appears only after
        the data write completed (the same ordering the single-writer flip
        relies on)."""
        name = f"v={v}-{uuid.uuid4().hex[:8]}"
        path = fsio.join(self.root, name)
        try:
            df.write.parquet(path)
        except (Py4JJavaError, PySparkException) as exc:
            # A commit at or past v means another writer won since this
            # merge read its snapshot, and that winner's retention prune may
            # have deleted the files the write was still scanning: the
            # failure is the lost race, not a fault — retry on top of it.
            if (self.current_version() or 0) < v:
                raise
            self._fs.delete(path, recursive=True)
            raise ConcurrentPublishError(
                f"version {v} of {self.root!r} was committed by another "
                "writer while this merge was writing; re-read and retry"
            ) from exc
        if not self._fs.create_exclusive(
            fsio.join(self._commits, str(v)), name
        ):
            self._fs.delete(path, recursive=True)
            raise ConcurrentPublishError(
                f"version {v} of {self.root!r} was committed by another "
                "writer; re-read and retry the merge on top of it"
            )
        self._prune(v)
        return v

    def _prune(self, v: int) -> None:
        # retention prune: drop committed versions older than the last
        # keep_versions (default 1 == the original prune-immediately);
        # sweep from the on-disk listing so lowering keep_versions on an
        # existing table also reclaims its older snapshots. Under
        # concurrent_writers the same sweep reclaims crashed losers'
        # orphaned v=<n>-<token> dirs once n falls behind the cutoff.
        cutoff = v - self.keep_versions
        for name in self._fs.list_names(self.root):
            n = _dir_version(name)
            if n is not None and n <= cutoff:
                self._fs.delete(fsio.join(self.root, name), recursive=True)
        for n in self._marker_versions():
            if n <= cutoff:
                self._fs.delete(
                    fsio.join(self._commits, str(n)), recursive=False
                )

    # -- merge API ----------------------------------------------------------
    def append_history(self, batch: DataFrame, key: Sequence[str] = HISTORY_KEY) -> int:
        """Op 19: append batch rows not already in history; returns inserted
        count (the reference returns executemany rowcounts,
        staging_repo.py:52-58). Counted BEFORE publishing so a batch with
        nothing new (an idle cycle's redelivered lookback) rewrites nothing."""
        base, existing = self._snapshot()
        inserted, full = history_merge(existing, batch, key)
        n = inserted.count()
        if existing is None or n:
            self._publish(full, base)
        return n

    def delete_keys(self, keys: DataFrame, key: str = LATEST_KEY) -> int:
        """Targeted deletion (dataset redaction / right-to-be-forgotten):
        remove every row whose ``key`` appears in ``keys``; returns the
        deleted count. One left-semi count, then a left-anti republish only
        if anything matched — the same plan a Delta ``DELETE WHERE key IN
        (…)`` runs after file pruning; on the bucket-partitioned sink only
        the touched buckets run it."""
        base, existing = self._snapshot()
        if existing is None:
            return 0
        # semi/anti joins never multiply rows, so duplicate keys need no distinct
        kdf = keys.select(F.col(_single_key_column(keys, key)).alias(key))
        n_deleted = existing.join(kdf, on=key, how="left_semi").count()
        if n_deleted:
            self._publish(existing.join(kdf, on=key, how="left_anti"), base)
        return n_deleted

    def upsert_latest(
        self,
        batch: DataFrame,
        key: str = LATEST_KEY,
        ts_col: str = "updated_at",
    ) -> int:
        """Op 20: newer-wins upsert; returns affected-row count — the
        winners that came from the batch (an insert, or a strictly newer
        update; a tie keeps the stored row and counts 0). The count is an
        observed metric of the publish write itself, so the merge runs once
        and the old snapshot is read once."""
        base, existing = self._snapshot()
        obs = Observation()
        winners = _latest_winners(existing, batch, key, ts_col)
        self._publish(
            winners.observe(
                obs, F.count(F.when(F.col("__is_existing") == 0, 1)).alias("affected")
            ).drop("__is_existing"),
            base,
        )
        return obs.get["affected"]
