"""``elt_reference``: steady-state watermark ELT cycles.

Operating point of the reference deployment: 3,000 orders behind the
upstream stub (the reference runs the same per-entity cycle for receipts
too; one entity keeps a run inside the benchmark's time budget). The
warehouse is seeded by the pipeline's own first (full) run. Each measured
cycle is one ``pipeline.orchestrated_run`` — extract by watermark,
normalize, land, append history, upsert latest, log the run, advance the
watermark — after one CDC tick of 200 mutations, or after none (an idle
cycle). Dashboard reads of the latest-state table follow every cycle.
"""

from __future__ import annotations

import time
from datetime import timezone

from wms_data_pipeline_spark import pipeline
from wms_data_pipeline_spark.control.runlog import RunLog
from wms_data_pipeline_spark.control.watermark import WatermarkStore
from wms_data_pipeline_spark.operators.merge import ParquetTable

from common import Outcome, corrupt
from stub import EPOCH, UpstreamStub

ENTITIES = ("ob_orders",)
SIZES = {"full": (3000, 200), "smoke": (60, 8)}


class EltWorkload:
    # cycle kinds of the core schedule, repeated while time remains; every
    # run completes the core, so samples come from the same positions
    SCHEDULE = ("tick", "idle", "tick", "idle")
    READS_PER_CYCLE = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        n_rows, self.tick_rows = SIZES[ctx.size]
        self.stub = UpstreamStub(ENTITIES, n_rows, ctx.seed)
        root = ctx.work
        self.kwargs = dict(
            base_url="http://upstream.stub",
            landing_root=f"{root}/landing",
            control_root=f"{root}/control",
            warehouse_root=f"{root}/warehouse",
            getter=self.stub.get,
            entities=list(ENTITIES),
        )
        self.roots = [self.kwargs[k] for k in ("landing_root", "control_root", "warehouse_root")]
        self.batches: list[float] = []  # staging-run walls
        self._instrument(ctx.tracer)

    def _instrument(self, tracer) -> None:
        """Time each per-entity staging run (the ELT batch), and in a
        traced run open a span around every call into a layer."""
        orig = pipeline.staging_run
        walls = self.batches

        def timed_staging(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                walls.append(time.perf_counter() - t0)

        pipeline.staging_run = timed_staging
        self._restore = [(pipeline, "staging_run", orig)]
        for owner, attr, name in (
            (self.stub, "get", "rest.stub"),
            (pipeline, "orchestrated_run", "pipeline.run"),
            (pipeline, "staging_run", "pipeline.staging"),
            (pipeline, "fetch_all", "rest.fetch"),
            (pipeline, "normalize", "normalize"),
            (pipeline, "write_landing", "landing.write"),
            (pipeline, "read_landing", "landing.read"),
            (WatermarkStore, "get", "control.watermark"),
            (WatermarkStore, "upsert", "control.watermark"),
            (RunLog, "start", "control.runlog"),
            (RunLog, "finish_success", "control.runlog"),
            (RunLog, "finish_failed", "control.runlog"),
            (ParquetTable, "append_history", "merge.history"),
            (ParquetTable, "upsert_latest", "merge.latest"),
        ):
            tracer.wrap(owner, attr, name)
        self.kwargs["getter"] = self.stub.get

    def close(self) -> None:
        for owner, attr, orig in self._restore:
            setattr(owner, attr, orig)

    def setup(self, o: Outcome) -> None:
        """Seed through the pipeline's own full first run, then one
        warm-up cycle and read."""
        o.check("seed", self.cycle()[2])
        self.prepare("tick")
        o.check("warmup", self.cycle()[2])
        self.read()

    def prepare(self, kind: str) -> int:
        return self.stub.tick(self.tick_rows) if kind == "tick" else 0

    def cycle(self) -> tuple[float, int, bool]:
        """One orchestrated run: (wall s, rows committed to latest, ok)."""
        t0 = time.perf_counter()
        out = pipeline.orchestrated_run(self.spark, **self.kwargs)
        wall = time.perf_counter() - t0
        ok = len(out) == len(ENTITIES) and all(
            st is not None and st.status == "success" for _, st in out
        )
        return wall, sum(st.upserted_latest for _, st in out if st is not None), ok

    def latest(self, entity: str):
        return ParquetTable(self.spark, f"{self.kwargs['warehouse_root']}/stg_{entity}").read()

    def read(self) -> bool:
        """One dashboard read: latest state of each entity by status,
        checked against the stub."""
        with self.ctx.tracer.span("merge.read"):
            counts = {
                e: {r["status"]: r["count"] for r in self.latest(e).groupBy("status").count().collect()}
                for e in ENTITIES
            }
        expected = {}
        for e, store in self.stub.entities.items():
            c: dict[str, int] = {}
            for status, _ in store.state().values():
                c[status] = c.get(status, 0) + 1
            expected[e] = c
        return counts == expected

    def gates(self, corrupted: bool = False) -> list[str]:
        """Compare the warehouse with the stub; returns failed gate names.
        ``corrupted`` checks a copy of the latest table with one row
        changed instead (the smoke test's proof that the gates bite)."""
        failed = []
        for e, store in self.stub.entities.items():
            lt = corrupt(self.latest(e)) if corrupted else self.latest(e)
            got = {
                r["id"]: (r["status"], _epoch(r["updated_at"]))
                for r in lt.select("id", "status", "updated_at").collect()
            }
            if got != store.state():
                failed.append(f"{e}.latest")
            ht = ParquetTable(self.spark, f"{self.kwargs['warehouse_root']}/stg_{e}_history").read()
            rows = ht.select("id", "updated_at", "status").collect()
            versions = {(r["id"], _epoch(r["updated_at"]), r["status"]) for r in rows}
            if len(rows) != len(versions) or versions != store.versions:
                failed.append(f"{e}.history")
        return failed


def _epoch(ts) -> int:
    """Spark timestamp (naive UTC or aware) -> stub epoch seconds."""
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return int((ts - EPOCH).total_seconds())
