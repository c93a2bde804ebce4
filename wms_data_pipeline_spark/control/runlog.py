"""Run-log lifecycle (SURVEY §2.1 op 24).

Reference: services/staging/app/pipeline_run_logs_repo.py:7-71 —
``pipeline_run_log(run_id PK, pipeline_name, entity, started_at, ended_at,
status running|success|failed, rows_in, rows_inserted_history,
rows_upserted_latest, error)``; start is INSERT ON CONFLICT DO NOTHING;
error text truncated to 4000 chars. The reference's double-finish quirk on
empty batches (staging run.py:54-86 falls through after the early success)
is intentionally NOT reproduced — one terminal state per run.

Each run is one driver-written JSON document (``control.docs.DocTable``),
with no Spark job: ``start`` writes the document only when the run has
none, which is the ON CONFLICT DO NOTHING under the single-writer
discipline every table here assumes; ``finish_*`` overlays only the columns it sets and
rewrites the document atomically, so an error text survives a
failed-then-successful retry exactly as an UPDATE of the row would keep
it. ``table.read()`` is the table view, one row per run.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from wms_data_pipeline_spark.control.docs import DocTable

ERROR_TEXT_CAP = 4000  # reference pipeline_run_logs_repo.py:70

RUNLOG_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("pipeline_name", StringType(), False),
        StructField("entity", StringType(), False),
        StructField("started_at", TimestampType(), False),
        StructField("ended_at", TimestampType()),
        StructField("status", StringType(), False),
        StructField("rows_in", LongType()),
        StructField("rows_inserted_history", LongType()),
        StructField("rows_upserted_latest", LongType()),
        StructField("error", StringType()),
    ]
)


def _now() -> datetime:
    return datetime.now(timezone.utc)


class RunLog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.table = DocTable(spark, root, RUNLOG_SCHEMA, ("run_id",))

    def start(self, run_id: str, pipeline_name: str, entity: str) -> None:
        """INSERT … ON CONFLICT DO NOTHING — a restarted run keeps its
        original start row (reference pipeline_run_logs_repo.py:7-24)."""
        if self.table.get(run_id) is None:
            doc = dict.fromkeys(RUNLOG_SCHEMA.names)
            doc.update(run_id=run_id, pipeline_name=pipeline_name, entity=entity,
                       started_at=_now(), status="running")
            self.table.put(doc)

    def _finish(self, run_id: str, **updates) -> None:
        doc = self.table.get(run_id)
        if doc is None:
            raise ValueError(f"run {run_id} was never started")
        doc.update(updates)
        self.table.put(doc)

    def finish_success(
        self, run_id: str, rows_in: int, rows_inserted_history: int, rows_upserted_latest: int
    ) -> None:
        self._finish(
            run_id, status="success", ended_at=_now(), rows_in=rows_in,
            rows_inserted_history=rows_inserted_history,
            rows_upserted_latest=rows_upserted_latest,
        )

    def finish_failed(self, run_id: str, error: str) -> None:
        self._finish(run_id, status="failed", ended_at=_now(), error=(error or "")[:ERROR_TEXT_CAP])
