"""``stream_merge``: Structured Streaming CDC merge into a large table.

``streaming.pipeline.incremental_merge_stream`` drains CDC files written
from ``CdcSimulator``. The warehouse is seeded with 50,000 orders through
the stream itself (one snapshot file). Each tick cycle lands one file
(500 mutations, 1% of the table) and runs the stream with ``availableNow``
until it has committed the file as one micro-batch: a history append and
a newer-wins upsert that rewrites the whole latest table. An idle cycle
lands no file. Every tick file also carries redelivered rows (exact
duplicates) and late rows (the previous tick's versions inside the
2-minute watermark delay), which the sinks must collapse. A dashboard read
of the latest table follows every cycle.
"""

from __future__ import annotations

import os
import random
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from wms_data_pipeline_spark.operators.merge import ParquetTable
from wms_data_pipeline_spark.streaming.cdc import CdcSimulator
from wms_data_pipeline_spark.streaming.pipeline import incremental_merge_stream

from common import Outcome, corrupt

ENTITY = "ob_orders"
SIZES = {"full": (50_000, 500), "smoke": (200, 10)}
REDELIVER_SHARE = 0.02
LATE_WINDOW_S = 120  # the stream's watermark delay
WARMUP_TICKS = 4

TS_COLS = ("created_at", "updated_at", "finished_at")
STR_COLS = ("id", "status", "note", "created_by", "updated_by")
SPARK_SCHEMA = StructType(
    [StructField(c, StringType()) for c in STR_COLS]
    + [StructField(c, TimestampType()) for c in TS_COLS]
)
ARROW_SCHEMA = pa.schema(
    [(c, pa.string()) for c in STR_COLS] + [(c, pa.timestamp("us", tz="UTC")) for c in TS_COLS]
)


def _ts(value: str | None) -> datetime | None:
    return None if value is None else datetime.fromisoformat(value)


class StreamWorkload:
    # cycle kinds of the core schedule, repeated while time remains; every
    # run completes the core, so samples come from the same positions
    SCHEDULE = ("tick", "idle", "idle", "idle", "idle") * 4
    READS_PER_CYCLE = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        n_rows, self.tick_rows = SIZES[ctx.size]
        root = ctx.work
        self.src = f"{root}/source"
        self.warehouse = f"{root}/warehouse"
        self.checkpoint = f"{root}/checkpoint"
        self.roots = [self.src, self.warehouse, self.checkpoint]
        os.makedirs(self.src)
        self.sim = CdcSimulator(ENTITY, n_seed=n_rows, seed=ctx.seed)
        self.rng = random.Random(ctx.seed + 1)
        self.files = 0
        self.prev_tick: list[dict] = []
        self.pending = 0  # keys changed by landed, not yet drained files
        self.versions: set = set()  # every (id, updated_at, status) landed
        self.state: dict[str, tuple[str, datetime]] = {}  # id -> (status, updated_at)
        self.batches: list[float] = []  # micro-batch triggerExecution, s
        self._restore: list = []
        self._instrument(ctx.tracer)

    def _instrument(self, tracer) -> None:
        if not tracer.enabled:
            return
        orig = DataStreamWriter.foreachBatch

        def traced_foreach(writer, func):
            def body(batch, batch_id):
                with tracer.span("stream.batch"):
                    return func(batch, batch_id)

            return orig(writer, body)

        DataStreamWriter.foreachBatch = traced_foreach
        self._restore = [(DataStreamWriter, "foreachBatch", orig)]
        tracer.wrap(ParquetTable, "append_history", "merge.history")
        tracer.wrap(ParquetTable, "upsert_latest", "merge.latest")

    def close(self) -> None:
        for owner, attr, orig in self._restore:
            setattr(owner, attr, orig)

    def _land(self, rows: list[dict], new: list[dict]) -> int:
        """Write ``rows`` as the next source file; ``new`` are the fresh
        versions among them. Returns the number of keys they change."""
        cols = {c: [r[c] for r in rows] for c in STR_COLS}
        cols.update({c: [_ts(r[c]) for r in rows] for c in TS_COLS})
        pq.write_table(pa.table(cols, schema=ARROW_SCHEMA), f"{self.src}/t{self.files:05d}.parquet")
        self.files += 1
        for r in new:
            key, ts, status = r["id"], _ts(r["updated_at"]), r["status"]
            self.versions.add((key, ts, status))
            if key not in self.state or ts > self.state[key][1]:
                self.state[key] = (status, ts)
        self.pending += len({r["id"] for r in new})
        return len({r["id"] for r in new})

    def setup(self, o: Outcome) -> None:
        """Seed with the snapshot file, then warm-up tick cycles."""
        self._land(self.sim.rows, self.sim.rows)
        o.check("seed", self.cycle()[2])
        for k in range(WARMUP_TICKS):
            self.prepare("tick")
            o.check(f"warmup{k}", self.cycle()[2])
            self.read()

    def prepare(self, kind: str) -> int:
        """Land a tick file: fresh versions plus redelivered duplicates
        and the previous tick's versions inside the watermark delay."""
        if kind != "tick":
            return 0
        changed = self.sim.tick(self.tick_rows)
        redelivered = self.rng.sample(changed, max(1, int(len(changed) * REDELIVER_SHARE)))
        rows = changed + redelivered + _tail(self.prev_tick, LATE_WINDOW_S)
        self.rng.shuffle(rows)
        self.prev_tick = changed
        return self._land(rows, changed)

    def cycle(self) -> tuple[float, int, bool]:
        """One availableNow drain: (wall s, keys committed, ok). OK means
        one micro-batch per landed file and none without one."""
        t0 = time.perf_counter()
        with self.ctx.tracer.span("stream.run"):
            stream = (
                self.spark.readStream.schema(SPARK_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.src)
            )
            q = incremental_merge_stream(stream, self.warehouse, ENTITY, self.checkpoint)
            q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        self.batches += [p.durationMs["triggerExecution"] / 1000 for p in batches]
        committed, self.pending = self.pending, 0
        return wall, committed, len(batches) == (1 if committed else 0)

    def latest(self):
        return ParquetTable(self.spark, f"{self.warehouse}/stg_{ENTITY}").read()

    def read(self) -> bool:
        """One dashboard read: latest state by status, checked against the
        generator."""
        with self.ctx.tracer.span("merge.read"):
            counts = {r["status"]: r["count"] for r in self.latest().groupBy("status").count().collect()}
        expected: dict[str, int] = {}
        for status, _ in self.state.values():
            expected[status] = expected.get(status, 0) + 1
        return counts == expected

    def gates(self, corrupted: bool = False) -> list[str]:
        """Compare the warehouse with the generator's state after the
        landed files; returns failed gate names. ``corrupted`` checks a
        copy of the latest table with one row changed instead."""
        failed = []
        lt = corrupt(self.latest()) if corrupted else self.latest()
        got = {
            r["id"]: (r["status"], _aware(r["updated_at"]))
            for r in lt.select("id", "status", "updated_at").collect()
        }
        if got != self.state:
            failed.append("latest")
        ht = ParquetTable(self.spark, f"{self.warehouse}/stg_{ENTITY}_history").read()
        rows = ht.select("id", "updated_at", "status").collect()
        versions = {(r["id"], _aware(r["updated_at"]), r["status"]) for r in rows}
        if len(rows) != len(versions) or versions != self.versions:
            failed.append("history")
        return failed


def _tail(rows: list[dict], window_s: int) -> list[dict]:
    """Rows whose updated_at is within ``window_s`` of the newest."""
    if not rows:
        return []
    newest = max(_ts(r["updated_at"]) for r in rows)
    return [dict(r) for r in rows if (newest - _ts(r["updated_at"])).total_seconds() <= window_s]


def _aware(ts: datetime) -> datetime:
    return ts.replace(tzinfo=timezone.utc) if ts.tzinfo is None else ts
