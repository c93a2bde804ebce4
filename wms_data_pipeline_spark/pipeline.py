"""End-to-end pipeline entry points (SURVEY §3).

Entry point A — extractor run (reference services/extractor/app/run.py:15-93):
    fetch (REST) → normalize → landing write → watermark advance.
Entry point B — staging run (reference services/staging/app/run.py:28-99):
    read landing → payload/hash → history merge → latest merge → run log.

All boundaries are Spark I/O; failure ordering preserved from the reference:
landing is written strictly before the watermark advances (rerun-safe: sinks
are idempotent, watermark only moves on success), and the staging run log
records failure with the error text on any exception.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from wms_data_pipeline_spark.control.runlog import RunLog
from wms_data_pipeline_spark.control.watermark import (
    WatermarkStore,
    compute_new_watermark,
)
from wms_data_pipeline_spark.operators.incremental import (
    DEFAULT_LOOKBACK_SECONDS,
    effective_watermark,
)
from wms_data_pipeline_spark.operators.merge import ParquetTable
from wms_data_pipeline_spark.operators.normalize import normalize
from wms_data_pipeline_spark.operators.payload import with_payload_and_hash
from wms_data_pipeline_spark.schemas import ENTITY_RAW_SCHEMAS
from wms_data_pipeline_spark.sources.landing import read_landing, write_landing
from wms_data_pipeline_spark.sources.rest import fetch_all


@dataclass
class ExtractResult:
    entity: str
    run_id: str
    rows: int
    landing_path: str | None
    new_watermark: datetime


def retry_task(
    fn: Callable[[], Any],
    retries: int = 0,
    backoff_seconds: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
    is_failure: Callable[[Any], bool] | None = None,
):
    """Airflow-style task retry (the scheduler semantics the reference's
    LocalExecutor deployment implies, docker-compose.yaml:100-116): up to
    ``retries`` re-attempts with exponential backoff (backoff × 2^attempt).

    Handles both failure styles in this module: tasks that RAISE (extract)
    and tasks that return a failed result object (staging, which logs and
    swallows — pass ``is_failure`` to detect). The final attempt's
    exception/result propagates unchanged, so callers see the same contract
    as the unretried task.
    """
    for attempt in range(retries + 1):
        last = attempt == retries
        try:
            out = fn()
        except Exception:
            if last:
                raise
        else:
            if is_failure is None or not is_failure(out):
                return out
            if last:
                return out
        sleep(backoff_seconds * (2**attempt))
    raise AssertionError("unreachable")


def extractor_run(
    spark: SparkSession,
    base_url: str,
    entities: list[str],
    landing_root: str,
    control_root: str,
    pipeline_name: str = "wms_extract",
    lookback_seconds: int = DEFAULT_LOOKBACK_SECONDS,
    limit: int = 500,
    getter: Callable[..., Any] | None = None,
    output_format: str = "parquet",
) -> list[ExtractResult]:
    """Entry point A. One run_id + extracted_at for the whole run
    (reference run.py:20-21); per entity: watermark − lookback → fetch →
    normalize → landing → watermark GREATEST-merge."""
    run_id = uuid.uuid4().hex
    extracted_at = datetime.now(timezone.utc)
    wm_store = WatermarkStore(spark, f"{control_root}/etl_watermark")
    results: list[ExtractResult] = []
    for entity in entities:
        results.append(
            _extract_entity(
                spark, base_url, entity, landing_root, wm_store, pipeline_name,
                lookback_seconds, limit, getter, output_format, run_id,
                extracted_at,
            )
        )
    return results


def _extract_entity(
    spark: SparkSession,
    base_url: str,
    entity: str,
    landing_root: str,
    wm_store: WatermarkStore,
    pipeline_name: str,
    lookback_seconds: int,
    limit: int,
    getter: Callable[..., Any] | None,
    output_format: str,
    run_id: str,
    extracted_at: datetime,
) -> ExtractResult:
    """One entity's extract task: watermark − lookback → fetch → normalize →
    landing → watermark GREATEST-merge. Idempotent under retry: landing is
    keyed by (entity, run_id) and the watermark merge is monotonic, so a
    re-attempt after a mid-task crash re-fetches and overwrites cleanly."""
    saved = wm_store.get(pipeline_name, entity)
    wm_eff = effective_watermark(saved, lookback_seconds)
    kwargs = {"getter": getter} if getter is not None else {}
    rows = fetch_all(
        base_url, entity, updated_after=wm_eff.isoformat(), limit=limit, **kwargs
    )
    schema = ENTITY_RAW_SCHEMAS.get(entity)
    if schema is not None:
        # fetch_all threads _arrival_seq (page × row order) through every
        # row — extend the declared schema rather than mutating it.
        full_schema = StructType(
            schema.fields + [StructField("_arrival_seq", LongType())]
        )
        raw = spark.createDataFrame(rows, full_schema)
    elif rows:
        raw = spark.createDataFrame(rows)
    else:
        # no rows and no declared schema: nothing to land; carry forward
        wm_store.upsert(pipeline_name, entity, saved, run_id)
        return ExtractResult(entity, run_id, 0, None, saved)
    batch = normalize(raw, run_id, extracted_at, wm_eff)
    path = write_landing(batch, landing_root, entity, run_id, output_format)
    max_ts = batch.agg(F.max("updated_at")).collect()[0][0]
    new_wm = compute_new_watermark(max_ts, saved)
    wm_store.upsert(pipeline_name, entity, new_wm, run_id)
    return ExtractResult(entity, run_id, batch.count(), path, new_wm)


@dataclass
class StagingResult:
    entity: str
    run_id: str
    rows_in: int
    inserted_history: int
    upserted_latest: int
    status: str
    error: str | None = None


def staging_run(
    spark: SparkSession,
    landing_root: str,
    warehouse_root: str,
    entity: str,
    run_id: str,
    pipeline_name: str = "wms_staging",
    partitioned: bool = False,
    n_buckets: int = 64,
) -> StagingResult:
    """Entry point B. Counts come from the merge sinks (the reference's
    executemany rowcounts, staging run.py:68-86); one terminal run-log state
    (the reference's empty-batch double-finish quirk is not reproduced).

    ``partitioned=True`` switches both sinks to the bucket-pruned
    PartitionedMergeTable — the layout for histories that dwarf each batch
    (SCALE_NOTES.md)."""
    runlog = RunLog(spark, f"{warehouse_root}/pipeline_run_log")
    runlog.start(run_id, pipeline_name, entity)
    try:
        df = read_landing(spark, landing_root, entity, run_id)
        rows_in = df.count()
        if rows_in == 0:
            runlog.finish_success(run_id, 0, 0, 0)
            return StagingResult(entity, run_id, 0, 0, 0, "success")
        staged = with_payload_and_hash(df)
        if partitioned:
            from wms_data_pipeline_spark.operators.merge_partitioned import (
                PartitionedMergeTable,
            )

            history = PartitionedMergeTable(
                spark, f"{warehouse_root}/stg_{entity}_history", n_buckets=n_buckets
            )
            latest = PartitionedMergeTable(
                spark, f"{warehouse_root}/stg_{entity}", n_buckets=n_buckets
            )
        else:
            history = ParquetTable(spark, f"{warehouse_root}/stg_{entity}_history")
            latest = ParquetTable(spark, f"{warehouse_root}/stg_{entity}")
        n_hist = history.append_history(staged)
        n_latest = latest.upsert_latest(staged)
        runlog.finish_success(run_id, rows_in, n_hist, n_latest)
        return StagingResult(entity, run_id, rows_in, n_hist, n_latest, "success")
    except Exception as e:  # noqa: BLE001 - reference catches everything too
        runlog.finish_failed(run_id, f"{type(e).__name__}: {e}")
        return StagingResult(entity, run_id, 0, 0, 0, "failed", error=str(e))


def orchestrated_run(
    spark: SparkSession,
    base_url: str,
    landing_root: str,
    control_root: str,
    warehouse_root: str,
    entities: list[str] | None = None,
    partitioned: bool = False,
    task_retries: int = 0,
    retry_backoff_seconds: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
    **extract_kwargs: Any,
) -> list[tuple[ExtractResult, StagingResult | None]]:
    """The DAG analogue (reference: Airflow in docker-compose.yaml:94-116):
    one extractor run over all entities, then a staging run PER ENTITY with
    the extractor's run_id forwarded — the reference's orchestration
    contract, where the scheduler passes the extract task's run_id to each
    staging task (staging run.py:20-25 requires it on the CLI).

    Per-entity isolation mirrors independent DAG branches: one entity's
    staging failure is recorded in its run log and returned as a failed
    StagingResult without aborting the other entities. A zero-row extract
    for a declared entity still lands an empty batch and stages it (run log
    records success/0 — same as the reference's empty staging run); only an
    entity with NO landing dir for the run (undeclared schema, no rows)
    skips staging and reports ``None``.

    Rerun-safe end-to-end: landing writes are idempotent per (entity,
    run_id), the watermark only advances on success, and both merge sinks
    are conflict-deduped, so re-invoking after a crash (same or new run_id)
    never duplicates warehouse rows.

    ``task_retries`` adds the scheduler's failure semantics (reference:
    Airflow task retries, docker-compose.yaml:100-116): each per-entity
    extract task and each staging task independently re-attempts up to
    ``task_retries`` times with exponential backoff. A staging retry
    re-reads the already-landed batch by (entity, run_id) — it never
    re-extracts — and every sink it touches is idempotent, so a
    half-finished failed attempt merges cleanly on the next one. An
    extract task that exhausts its retries raises (the DAG branch for that
    entity fails hard, matching a task that exhausts Airflow retries);
    a staging task that exhausts retries returns its failed StagingResult
    with the failure recorded in the run log.
    """
    if entities is None:
        entities = sorted(ENTITY_RAW_SCHEMAS)
    ex_kw = dict(extract_kwargs)
    run_id = uuid.uuid4().hex
    extracted_at = datetime.now(timezone.utc)
    wm_store = WatermarkStore(spark, f"{control_root}/etl_watermark")
    out: list[tuple[ExtractResult, StagingResult | None]] = []
    for entity in entities:
        ex = retry_task(
            lambda: _extract_entity(
                spark, base_url, entity, landing_root, wm_store,
                ex_kw.get("pipeline_name", "wms_extract"),
                ex_kw.get("lookback_seconds", DEFAULT_LOOKBACK_SECONDS),
                ex_kw.get("limit", 500), ex_kw.get("getter"),
                ex_kw.get("output_format", "parquet"), run_id, extracted_at,
            ),
            retries=task_retries,
            backoff_seconds=retry_backoff_seconds,
            sleep=sleep,
        )
        if ex.landing_path is None:
            out.append((ex, None))
            continue
        st = retry_task(
            lambda: staging_run(
                spark,
                landing_root,
                warehouse_root,
                ex.entity,
                ex.run_id,
                partitioned=partitioned,
            ),
            retries=task_retries,
            backoff_seconds=retry_backoff_seconds,
            sleep=sleep,
            is_failure=lambda st: st.status == "failed",
        )
        out.append((ex, st))
    return out


def scheduled_runs(
    spark: SparkSession,
    base_url: str,
    landing_root: str,
    control_root: str,
    warehouse_root: str,
    interval_seconds: float,
    max_runs: int | None = None,
    sleep: Callable[[float], None] = time.sleep,
    clock: Callable[[], float] = time.monotonic,
    **run_kwargs: Any,
):
    """Schedule-interval loop (the Airflow ``schedule_interval`` analogue):
    yields one ``orchestrated_run`` result per tick, sleeping off the
    REMAINDER of the interval after each run (fixed cadence, not fixed gap —
    a run longer than the interval triggers the next tick immediately, it
    does not stack). Generator, so the caller controls lifetime;
    ``max_runs`` bounds it for tests/backfills. Each tick is incremental by
    watermark, but a tick with no upstream changes is NOT a no-op: the
    extractor re-reads the ``lookback_seconds`` window (120 s by default)
    behind the watermark and re-stages it through both merges, so it costs
    nearly as much as a small tick (``perfbench/NOTES.md``, 3,000-row
    ``elt_reference`` on 4 cores: 5.3 s median against 6.4 s for a 200-row
    tick).
    """
    runs = 0
    while max_runs is None or runs < max_runs:
        t0 = clock()
        yield orchestrated_run(
            spark, base_url, landing_root, control_root, warehouse_root,
            sleep=sleep, **run_kwargs,
        )
        runs += 1
        if max_runs is not None and runs >= max_runs:
            return
        remaining = interval_seconds - (clock() - t0)
        if remaining > 0:
            sleep(remaining)
