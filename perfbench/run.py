"""Benchmark of the incremental ELT engine: one workload per run.

    python3 perfbench/run.py --workload elt_reference --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The benchmark starts one Spark
session at ``local[<cores>]``, sets up the workload from ``--seed``,
measures for ``--seconds`` seconds (always completing the workload's fixed
core schedule), checks every output, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it reports the host-noise guard. A traced run also writes its
spans and the per-span event-log task metrics to
``.perfbench/traces/<workload>-seed<seed>.json``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("elt_reference", "stream_merge")
E2E_UNITS = {
    "setup_s": "s",
    "cycle_p50_s": "s",
    "idle_cycle_p50_s": "s",
    "read_p50_s": "s",
    "batch_p50_s": "s",
    "rows_per_s": "1/s",
    "driver_rss_mb": "MB",
    "disk_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="smoke: tiny inputs, for perfbench/smoke.py")
    p.add_argument("--corrupt", action="store_true",
                   help="check a corrupted copy of the output (the gates must fail)")
    return p.parse_args(argv)


class Context:
    """What a workload needs: session, tracer, seed, time budget, a
    private work directory and the input size."""

    def __init__(self, spark, tracer, args, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = args.size
        self.work = work


def e2e_metrics(o) -> dict[str, float]:
    rows = sum(r for r, _ in o.rounds)
    wall = sum(w for _, w in o.rounds)
    return {
        "setup_s": o.setup_s,
        "cycle_p50_s": statistics.median(o.cycle),
        "idle_cycle_p50_s": statistics.median(o.idle),
        "read_p50_s": statistics.median(o.reads),
        "batch_p50_s": statistics.median(o.batches),
        "rows_per_s": rows / wall,
        "driver_rss_mb": o.driver_rss_mb,
        "disk_mb": o.disk_mb,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "wms_data_pipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: no wms_data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = ROOT / ".perfbench"
    work = run_dir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Python workers import the package from the checkout; nothing is
    # written outside it (JVM and Python temp files included).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM Spark starts, its launcher included: no hsperfdata under
    # /tmp, temp files in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, str(ROOT))
    from common import stop_processes

    try:
        return _run(args, run_dir, work)
    finally:
        # on every path out: no JVM or worker outlives the run
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_dir: Path, work: Path) -> int:
    from wms_data_pipeline_spark.session import get_spark

    from common import NoiseGuard, Outcome, measure
    from spans import PER_LAYER_UNITS, Tracer, find_event_log, layer_metrics, parse_event_log

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        # a fixed-size heap (-Xms = -Xmx): G1 does not resize it during a
        # run, so GC work repeats from run to run
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }
    event_dir = work / "eventlog"
    if args.trace:
        event_dir.mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_dir),
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t0

    sc = spark.sparkContext
    guard = NoiseGuard()
    guard.sample("before")
    tracer = Tracer(sc, enabled=bool(args.trace))
    ctx = Context(spark, tracer, args, str(work / "data"))
    if args.workload == "elt_reference":
        from elt import EltWorkload as Workload
    else:
        from stream import StreamWorkload as Workload
    workload = Workload(ctx)
    outcome = Outcome()
    try:
        t0 = time.perf_counter()
        workload.setup(outcome)
        outcome.setup_s = session_s + time.perf_counter() - t0
        measure(ctx, workload, outcome)
        # gates run after every timed region
        for name in workload.gates(corrupted=args.corrupt):
            outcome.check(name, False)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        tracer.unwrap_all()
        workload.close()
    e2e = e2e_metrics(outcome)
    spark.stop()
    guard.sample("after")
    noise = guard.verdict(outcome.cycle)

    if args.trace:
        job_group, tasks = parse_event_log(find_event_log(str(event_dir)))
        metrics = layer_metrics(
            tracer.spans, outcome.core_traces, job_group, tasks, outcome.rdd_pinned
        )
        units = PER_LAYER_UNITS
        traces = run_dir / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.dump(
            str(traces / f"{args.workload}-seed{args.seed}.json"),
            {
                "workload": args.workload,
                "seed": args.seed,
                "core_traces": sorted(outcome.core_traces),
                "job_groups": {str(j): g for j, g in job_group.items()},
                "tasks": tasks,
                "per_layer": metrics,
                "end_to_end_traced": e2e,
                "guard": noise,
            },
        )
    else:
        metrics, units = e2e, E2E_UNITS
    samples = {k: getattr(outcome, k) for k in ("cycle", "idle", "reads", "batches")}
    print(json.dumps({"guard": noise, "failures": outcome.failures, "samples": samples}))
    print(
        json.dumps(
            {
                "correct": not outcome.failures,
                "attempted": outcome.attempted,
                "failed": len(outcome.failures),
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
