"""Watermark control table (SURVEY §2.1 ops 22-23).

Reference: services/extractor/app/watermark_repo.py:18-63 —
``etl_watermark(pipeline_name, entity, last_success_time, last_success_run_id,
updated_at)`` keyed (pipeline_name, entity); reads fall back to a configured
default start; writes are monotonic via GREATEST(existing, new) but the
run_id is ALWAYS overwritten, even by a stale run (pinned by
test_watermark_repo.py:48-65).

Each (pipeline_name, entity) row is one driver-written JSON document
(``control.docs.DocTable``): ``get`` is one committed small-file read and
``upsert`` one read plus one tmp-write-and-rename, with no Spark job. A
crash before the rename leaves the previous watermark. In pure Structured
Streaming the checkpoint subsumes this; the explicit store is the
batch-incremental mode's source of truth.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from wms_data_pipeline_spark.control.docs import DocTable, utc

DEFAULT_TIME_START = "1970-01-01T00:00:00+00:00"  # reference config.py:48

WATERMARK_SCHEMA = StructType(
    [
        StructField("pipeline_name", StringType(), False),
        StructField("entity", StringType(), False),
        StructField("last_success_time", TimestampType(), False),
        StructField("last_success_run_id", StringType()),
        StructField("updated_at", TimestampType(), False),
    ]
)


class WatermarkStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.table = DocTable(spark, root, WATERMARK_SCHEMA, ("pipeline_name", "entity"))

    def get(
        self,
        pipeline_name: str,
        entity: str,
        default_time_start: str = DEFAULT_TIME_START,
    ) -> datetime:
        """Op 22: saved watermark or the configured default ISO start
        (reference watermark_repo.py:18-38)."""
        doc = self.table.get(pipeline_name, entity)
        if doc is not None:
            return doc["last_success_time"]
        return datetime.fromisoformat(default_time_start)

    def last_run_id(self, pipeline_name: str, entity: str) -> "str | None":
        """The run that last advanced (or carried forward) the watermark."""
        doc = self.table.get(pipeline_name, entity)
        return None if doc is None else doc["last_success_run_id"]

    def upsert(
        self,
        pipeline_name: str,
        entity: str,
        new_wm: datetime,
        run_id: str,
        now: datetime | None = None,
    ) -> None:
        """Op 23: monotonic upsert — ``last_success_time =
        GREATEST(existing, new)`` (never backwards, reference
        watermark_repo.py:53); ``run_id`` and ``updated_at`` always
        overwritten, even when the time is kept."""
        wm = utc(new_wm)
        old = self.table.get(pipeline_name, entity)
        if old is not None:
            wm = max(wm, old["last_success_time"])
        self.table.put(
            dict(
                pipeline_name=pipeline_name, entity=entity, last_success_time=wm,
                last_success_run_id=run_id,
                updated_at=utc(now or datetime.now(timezone.utc)),
            )
        )


def compute_new_watermark(batch_max_ts: datetime | None, saved: datetime) -> datetime:
    """Watermark advance: ``max(updated_at)`` of the batch, carry-forward when
    the batch is empty (reference run.py:72-75)."""
    if batch_max_ts is None:
        return saved
    return max(utc(batch_max_ts), utc(saved))
