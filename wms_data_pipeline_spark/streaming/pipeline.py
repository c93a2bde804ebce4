"""Structured Streaming pipeline (SURVEY §2.2, §7.1 step 8).

The reference is a scheduled micro-batch pipeline; its streaming semantics
map one-to-one:

| reference                               | here                           |
|-----------------------------------------|--------------------------------|
| persisted watermark + 120 s lookback    | ``withWatermark(ts, "2 minutes")`` |
| lookback re-read collapsed by PK sinks  | ``foreachBatch`` → idempotent merges |
| watermark advance = max(updated_at)     | checkpoint offsets             |
| run log                                 | StreamingQueryListener / observe |

``incremental_merge_stream`` is the effectively-once recipe: an
at-least-once file/Kafka source, per-micro-batch MERGE into history+latest.
At 100 TB the source is Kafka/Delta CDF and the sinks are Delta MERGEs; the
semantics (and this code path's transforms) are identical.

SIZING the three streaming newer-wins legs (measured, SCALE_NOTES r6/r7;
rerunnable via ``tools/stress.py --stateful`` / ``--fbmerge``):

- ``latest_state_changes`` (applyInPandasWithState) is bound by per-GROUP
  Python dispatch at ~6-7k groups/s regardless of state-store provider or
  rows-per-group — size it by group-arrival rate, never row rate; use it
  only when the per-key logic genuinely needs Python.
- ``incremental_merge_stream`` (foreachBatch → latest_merge) sustains
  ~114k rows/s at <2M accumulated state rows decaying to ~26k at 12M
  (full-rewrite merge pays O(state+batch) per batch) — the right leg for
  mid-cardinality upserts (~4-15x the Python-stateful leg below ~10M
  keys) and whenever state must be warehouse-visible. Swap the sink for
  ``PartitionedMergeTable``/Delta MERGE when deltas localize to a
  bucket/partition subset; with uniformly-fresh keys the plain table's
  one big merge job beats 64 serial bucket jobs.
- JVM stateful operators (dropDuplicates/window aggs; transformWithState
  where the runtime ships it) sustain ~0.59M rows/s at 40M live keys on
  RocksDB — the graduation path for sustained high-cardinality streams.
"""

from __future__ import annotations

import gc
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from wms_data_pipeline_spark.operators.merge import ParquetTable
from wms_data_pipeline_spark.operators.payload import with_payload_and_hash


def _pin(held: list, df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer batch frame and TRACK it for
    deterministic end-of-batch release (r15). The batch bodies formerly
    ``localCheckpoint``-ed these frames and relied on Python GC + the
    async ContextCleaner to free the blocks — the production twin of the
    r14 bench contamination bug: a 120-batch soak left ~60 orphaned
    checkpoint RDDs pinned in the block manager (localCheckpoint blocks
    can spill but never evict, because their lineage is truncated).
    ``persist`` has an UNPERSIST that actually releases, but it is NOT the
    same semantics: its blocks are evictable and are lost with an
    executor, and a lost block is recomputed by replaying the frame's
    lineage back to the micro-batch source. That is correct only because
    the batch is replayable — a file/offset-based source re-reads the same
    rows for the same batch, and every transform between source and pin
    is deterministic. A frame built from a non-replayable input or a
    nondeterministic expression (``rand``, ``current_timestamp``) could
    recompute to different rows in a later consumer; it needs an eager
    ``localCheckpoint`` instead."""
    df = df.persist()
    held.append(df)
    return df


def _release(held: list) -> None:
    """Unpersist every pinned batch frame (end of foreachBatch body, in a
    ``finally``), then drop Python-side cycles so the py4j proxies of any
    operator-internal lazy checkpoints detach promptly too (the bench.py
    r14 lesson applied to long-running streams)."""
    for df in held:
        try:
            df.unpersist(False)
        except Exception:  # release must never fail a committed batch
            pass
    held.clear()
    gc.collect()


def incremental_merge_stream(
    stream_df: DataFrame,
    warehouse_root: str,
    entity: str,
    checkpoint_dir: str,
    ts_col: str = "updated_at",
    delay: str = "2 minutes",
    history=None,
    latest=None,
    expectations=None,
    drift=None,
    drift_cat=None,
    drift_emb=None,
    audit_log=None,
) -> StreamingQuery:
    """readStream → event-time watermark → foreachBatch(history + latest
    merges). Late rows inside ``delay`` re-enter and collapse in the sinks
    (the reference's lookback+dedup contract).

    ``history``/``latest`` accept ANY merge sink implementing
    ``append_history``/``upsert_latest`` (ParquetTable default,
    PartitionedMergeTable, JdbcMergeSink, DeltaMergeTable) — streaming CDC
    can land straight in the warehouse through the same idempotent merges.

    Quality-audit leg (control/audit.py — the reference's run-level row
    counts generalized to quality metrics): pass ``expectations`` (named
    boolean Columns), and/or ``drift`` = (group_col, value_col,
    reference_histogram_path from ``psi_reference_write``), and each
    micro-batch also appends long-form audit rows to ``audit_log`` (a
    ``QualityAuditLog``; defaults to ``<warehouse_root>/quality_audit``
    when either audit input is given). The audit rows are keyed by
    (batch_id, kind, key, metric), so a retried batch collapses in the
    control table exactly like the data rows collapse in the merge sinks.
    Audits run on the RAW batch (pre-merge): they measure what the feed
    DELIVERED — the merge sinks then dedup/reject as usual.
    """
    spark = stream_df.sparkSession
    if history is None:
        history = ParquetTable(spark, f"{warehouse_root}/stg_{entity}_history")
    if latest is None:
        latest = ParquetTable(spark, f"{warehouse_root}/stg_{entity}")
    if audit_log is None and (expectations or drift or drift_cat or drift_emb):
        from wms_data_pipeline_spark.control.audit import QualityAuditLog

        audit_log = QualityAuditLog(spark, f"{warehouse_root}/quality_audit")

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        staged = with_payload_and_hash(batch)
        history.append_history(staged)
        latest.upsert_latest(staged, ts_col=ts_col)
        if audit_log is not None and (
            expectations or drift or drift_cat or drift_emb
        ):
            from wms_data_pipeline_spark.control.audit import audit_batch

            audit_log.append(
                audit_batch(
                    batch, batch_id, entity, expectations, drift,
                    drift_cat, drift_emb,
                )
            )

    return (
        stream_df.withWatermark(ts_col, delay)
        .writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "updated_at",
    delay: str = "2 minutes",
) -> DataFrame:
    """Streaming keyed dedup: the reference's lookback re-read collapse
    (history PK DO NOTHING, staging_repo.py:44-45) as a native stateful
    operator — state holds each key seen until the event-time watermark
    passes it, so redeliveries within ``delay`` drop in-flight instead of
    at the sink."""
    keys = keys or ["id", ts_col]
    return stream_df.withWatermark(ts_col, delay).dropDuplicates(keys)


def dedup_stream_within_watermark(
    stream_df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "updated_at",
    delay: str = "2 minutes",
) -> DataFrame:
    """Business-key-only streaming dedup: ``dropDuplicatesWithinWatermark``
    collapses redeliveries of the same key even when the event timestamp
    JITTERS between deliveries (at-least-once sources re-stamping on retry)
    — ``dropDuplicates([key, ts])`` would pass both copies through. First
    arrival wins; key state expires once the watermark passes it, so state
    is bounded by ``delay`` × key-arrival rate, not by history."""
    keys = keys or ["id"]
    return stream_df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def tumbling_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window: str = "10 minutes",
    delay: str = "2 minutes",
    keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window counts with late-data watermark; append-mode safe
    (windows only emit once the watermark passes them)."""
    keys = keys or []
    return (
        stream_df.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n",
        )
    )


def trending_stream(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key: str = "event_type",
    window: str = "1 hour",
    delay: str = "2 minutes",
    k: int = 3,
) -> StreamingQuery:
    """Windowed trending top-k, streaming form (batch twin:
    ``evt_trending_topk``): tumbling counts emit CLOSED windows in append
    mode (the watermark decides closure), and a ``foreachBatch`` ranks
    each closed window's keys and appends its top-``k`` rows to
    ``out_path`` — ranking happens in batch land because a streaming
    window function over an aggregated stream is not expressible, and a
    closed window's counts are final so the rank is exact, not a
    retractable approximation. State is bounded by the watermark (open
    windows only); output is one small append per closed window.
    At-least-once: a replayed batch re-appends the same closed windows —
    readers dedup on (window_start, key), same contract as the other
    foreachBatch sinks."""
    from pyspark.sql import Window as _W

    counts = tumbling_counts(stream_df, ts_col, window, delay, keys=[key])

    def _rank_and_append(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        w = _W.partitionBy("window_start").orderBy(F.col("n").desc(), F.col(key))
        top = (
            batch.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("batch_id", F.lit(batch_id))
        )
        top.write.mode("append").parquet(out_path)

    return (
        counts.writeStream.foreachBatch(_rank_and_append)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "10 minutes",
    delay: str = "2 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: right rows match left rows with
    the same key whose timestamp is within ``[left_ts, left_ts + within]``.
    Both sides carry watermarks so the join state is bounded — the
    event-correlation primitive (e.g. order placed ↔ order packed)."""
    l = left.withWatermark(left_ts, delay)
    r = right.withWatermark(right_ts, delay)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner")


def session_counts(
    stream_df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    delay: str = "2 minutes",
) -> DataFrame:
    """Session-window aggregation — the streaming twin of
    operators/relational.sessionize."""
    return (
        stream_df.withWatermark(ts_col, delay)
        .groupBy(F.session_window(ts_col, gap), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key,
            "n_events",
        )
    )


def _require_neardup_index(spark, index_path: str) -> None:
    """Up-front precondition for the ingest streams: the persisted band
    index must already exist (its ``meta`` sidecar is written last by
    ``neardup_index_write``), else the first micro-batch dies mid-stream
    with a raw 'path does not exist' parquet error instead of a usable
    message (ADVICE r7). Checked through the Hadoop FileSystem so any
    supported scheme (file://, s3a://, hdfs://) works."""
    p = spark._jvm.org.apache.hadoop.fs.Path(index_path.rstrip("/") + "/meta")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        raise ValueError(
            f"no near-dup index at {index_path!r} (missing 'meta' sidecar): "
            "bootstrap it with operators.dedup.neardup_index_write(corpus, "
            "index_path) before starting the ingest stream"
        )


def neardup_ingest_stream(
    stream_df: DataFrame,
    index_path: str,
    pairs_out: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    colname: str = "text",
    threshold: float = 0.5,
) -> StreamingQuery:
    """Dedup-on-INGEST: each micro-batch of new documents is probed
    against the persisted near-dup band index (pairs involving the batch,
    delta x corpus AND delta x delta, Jaccard-verified), the flagged
    pairs land in ``pairs_out``, and the batch's signatures are then
    APPENDED into the index — so batch N+1 dedups against batch N without
    ever recomputing corpus signatures. The streaming form of the
    nightly-index + daily-delta story: cost per batch scales with the
    batch.

    Probe-before-append inside one ``foreachBatch`` keeps the order
    correct (appending first would report every batch doc as its own
    duplicate). Delivery is at-least-once: a crash between the pairs
    write and the index append can replay a batch, re-emitting the same
    (id_a, id_b) rows into ``pairs_out`` and re-appending signatures —
    both are idempotent DOWNSTREAM (pairs are keyed, the probe's
    candidate dedup collapses duplicate band rows), matching the
    reference's lookback-redelivery contract. The ``batch_id`` column on
    every pair row makes replays auditable."""
    from wms_data_pipeline_spark.operators.dedup import (
        neardup_incremental,
        neardup_index_append,
    )

    spark = stream_df.sparkSession
    _require_neardup_index(spark, index_path)

    def _probe_then_append(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        held: list = []
        try:
            batch = _pin(held, batch)  # two passes: probe + append
            pairs = neardup_incremental(
                spark, batch, index_path, threshold=threshold,
                id_col=id_col, colname=colname,
            )
            pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(pairs_out)
            neardup_index_append(
                batch, index_path, id_col=id_col, colname=colname
            )
        finally:
            _release(held)

    return (
        stream_df.writeStream.foreachBatch(_probe_then_append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def overlap_monitor_stream(
    stream_df: DataFrame,
    index_path: str,
    matrix_out: str,
    checkpoint_dir: str,
    source_col: str = "source",
    text_col: str = "text",
) -> StreamingQuery:
    """Contamination-monitoring-on-INGEST: each micro-batch of new
    documents is probed against the persisted source-overlap index
    (``source_overlap_index_write``) — emitting the UPDATED cross-source
    matrix as of that batch into ``matrix_out`` (one matrix snapshot per
    batch, ``batch_id``-stamped) — and then folded INTO the index
    (``source_overlap_index_update``), so batch N+1's matrix includes
    batch N's shingles without ever re-shingling the corpus. The
    streaming form of the nightly-index + daily-delta contamination
    story: a mirror site or syndicated feed shows up as a containment
    spike in the snapshot series within one batch of arriving.

    Probe-before-update inside one ``foreachBatch`` keeps the snapshot
    honest (updating first would make the probe a no-op read of its own
    result — same value, but the ordering documents intent and matches
    ``neardup_ingest_stream``). Delivery is at-least-once: a replayed
    batch re-probes an index that may already contain it — the index
    update is IDEMPOTENT by construction (changed-set filter drops
    everything, pinned in test_round12_ops), and the snapshot lands in a
    ``batch_id=`` PARTITION written with dynamic partition overwrite
    (ADVICE r12): a replay REPLACES its own snapshot instead of
    appending a duplicate, so downstream aggregations over matrix_out
    never double-count and need no reader-side dedup. (A replayed
    snapshot can carry slightly HIGHER containment than the lost
    original — the index already holds the batch's shingles — which is
    the honest 'as of the index now' reading.)

    LAYOUT MIGRATION (ADVICE r13): before r13 the snapshots were flat
    ``mode('append')`` files at the ``matrix_out`` root with ``batch_id``
    as a data column. A root that still holds old-layout files cannot be
    read together with ``batch_id=`` partition dirs (partition discovery
    fails or drops rows), so the monitor REFUSES such a root at start —
    move the old flat files into ``batch_id=<n>/`` dirs (dropping the now
    partition-valued column) or point the stream at a fresh root. Read
    the series back with ``read_overlap_matrix``, which pins the
    partition column's type (directory-name inference would otherwise
    pick int-vs-long by the ids it happens to see)."""
    from wms_data_pipeline_spark.operators.dedup import (
        source_overlap_index_update,
        source_overlap_probe,
    )

    spark = stream_df.sparkSession
    p = spark._jvm.org.apache.hadoop.fs.Path(index_path.rstrip("/") + "/meta")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        raise ValueError(
            f"no source-overlap index at {index_path!r} (missing 'meta' "
            "sidecar): bootstrap it with operators.dedup."
            "source_overlap_index_write(corpus, index_path) before "
            "starting the monitor stream"
        )
    mp = spark._jvm.org.apache.hadoop.fs.Path(matrix_out)
    mfs = mp.getFileSystem(spark._jsc.hadoopConfiguration())
    if mfs.exists(mp):
        flat = [
            st.getPath().getName()
            for st in mfs.listStatus(mp)
            if st.isFile()
            and not st.getPath().getName().startswith(("_", "."))
        ]
        if flat:
            raise ValueError(
                f"matrix_out {matrix_out!r} holds pre-r13 flat snapshot "
                f"files at the root (e.g. {flat[0]!r}); they cannot be "
                "read together with the batch_id= partition layout. Move "
                "them into batch_id=<n>/ subdirs (dropping the batch_id "
                "data column) or start the monitor on a fresh root."
            )

    def _probe_then_update(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        held: list = []
        try:
            batch = _pin(held, batch)  # two passes: probe + update
            matrix = source_overlap_probe(
                spark, batch, index_path,
                source_col=source_col, text_col=text_col,
            )
            (
                matrix.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(matrix_out)
            )
            source_overlap_index_update(
                spark, batch, index_path,
                source_col=source_col, text_col=text_col,
            )
        finally:
            _release(held)

    return (
        stream_df.writeStream.foreachBatch(_probe_then_update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_overlap_matrix(spark: SparkSession, matrix_out: str) -> DataFrame:
    """Read the ``overlap_monitor_stream`` snapshot series with the
    ``batch_id`` partition column PINNED to LONG. Partition values live in
    directory names, not parquet footers, so readers get whatever type
    inference picks from the ids it sees (int for small runs, long past
    2^31) — a schema that silently changes as the stream ages. The explicit
    cast makes the series' schema stable for downstream unions/joins
    (ADVICE r13)."""
    df = spark.read.parquet(matrix_out)
    return df.withColumn("batch_id", F.col("batch_id").cast("long"))


def curation_ingest_stream(
    stream_df: DataFrame,
    index_path: str,
    accepted_out: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    colname: str = "text",
    quality_cutoff: float = 0.5,
    threshold: float = 0.5,
) -> StreamingQuery:
    """Curation-on-INGEST — the streaming form of the composed batch
    pipeline (text.curation_pipeline_full): each micro-batch is quality-
    filtered, probed against the persisted near-dup band index (catching
    duplicates of the corpus, of earlier batches, AND within the batch —
    exact duplicates score jaccard 1.0, so no separate hash pass is
    needed), and only the NOVEL quality survivors land in
    ``accepted_out`` and have their signatures appended to the index.
    Within-batch duplicate groups keep their smallest id (the SemDeDup
    keep rule), so one representative of new content always survives.

    Ordering inside the foreachBatch is the correctness argument:
    quality-filter first (rejected docs must not poison the index),
    REPLAY check second (a batch id already present in the index was
    fully processed by a previous delivery — a crash between the
    accepted write and the checkpoint commit replays the batch, and the
    replayed doc's only index match would be its own filtered self-pair,
    so without this membership check it would be re-accepted and
    re-appended), probe BEFORE append (else every doc is its own
    duplicate), and both the accept write and the signature append
    gated on the SAME non-empty novel set (an all-duplicate batch must
    not churn empty parquet commits into accepted_out). The residual
    at-least-once window is a crash between the accepted write and the
    index append: the NEXT replay then sees the ids in accepted_out but
    not the index — readers dedup accepted_out on the id column, the
    same keyed-sink contract as every other foreachBatch sink here."""
    from wms_data_pipeline_spark.operators.dedup import (
        neardup_incremental,
        neardup_index_append,
    )
    from wms_data_pipeline_spark.operators.text import quality_features

    spark = stream_df.sparkSession
    _require_neardup_index(spark, index_path)

    def _curate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        held: list = []
        try:
            _curate_once(batch, batch_id, held)
        finally:
            _release(held)

    def _curate_once(batch: DataFrame, batch_id: int, held: list) -> None:
        passed = _pin(
            held,
            quality_features(batch, colname)
            .filter(F.col("quality_score") >= quality_cutoff)
            .select(*batch.columns),
        )
        if passed.isEmpty():
            return
        # replay guard: drop batch ids ALREADY IN the index (ids are
        # unique and the index is append-only, so presence == a previous
        # delivery completed the append). The read is partition-pruned to
        # the batch ids' shingle buckets — bounded like the probe's own
        # verification read.
        meta = spark.read.parquet(index_path.rstrip("/") + "/meta").collect()[0]
        sbs = sorted(
            r.sb
            for r in passed.select(
                F.pmod(
                    F.xxhash64(F.col(id_col).cast("string")),
                    F.lit(meta.id_buckets),
                ).alias("sb")
            ).distinct().collect()
        )
        seen = (
            spark.read.parquet(index_path.rstrip("/") + "/shingles")
            .filter(F.col("sb").isin(sbs))
            .select(id_col)
        )
        passed = _pin(held, passed.join(seen, id_col, "left_anti"))
        if passed.isEmpty():
            return
        pairs = _pin(
            held,
            neardup_incremental(
                spark, passed, index_path, threshold=threshold,
                id_col=id_col, colname=colname,
            ),
        )
        # novelty is against the INDEX, not against id order: the probe
        # normalizes pairs to id_a < id_b, so when batch ids happen to be
        # SMALLER than corpus ids the corpus doc lands on the id_b side —
        # dropping id_b there would keep the batch copy and "dedup" the
        # corpus. A batch doc in any pair with a NON-batch doc is a
        # duplicate regardless of side; within-batch pairs keep the
        # smallest id (the SemDeDup rule among genuinely new content).
        bids = _pin(held, passed.select(F.col(id_col).alias("__bid")))
        sides = pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("x"), F.col("id_b").alias("other")),
                    F.struct(F.col("id_b").alias("x"), F.col("id_a").alias("other")),
                )
            ).alias("s")
        ).select("s.x", "s.other")
        vs_corpus = (
            sides.join(bids, sides.x == F.col("__bid"), "left_semi")
            .join(bids, sides.other == F.col("__bid"), "left_anti")
            .select(F.col("x").alias(id_col))
        )
        within = (
            pairs.join(bids, pairs.id_a == F.col("__bid"), "left_semi")
            .join(bids, pairs.id_b == F.col("__bid"), "left_semi")
            .select(F.col("id_b").alias(id_col))
        )
        dupes = vs_corpus.unionByName(within).distinct()
        novel = _pin(held, passed.join(dupes, id_col, "left_anti"))
        if novel.isEmpty():
            return  # all-duplicate batch: no empty parquet commit churn
        novel.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(accepted_out)
        neardup_index_append(novel, index_path, id_col=id_col, colname=colname)

    return (
        stream_df.writeStream.foreachBatch(_curate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
