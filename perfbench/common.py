"""Shared pieces of the benchmark: the outcome record of a workload run,
the measurement loop both workloads share, on-disk size, persistent-RDD
count, retained memory, the host-noise guard and the stop of every
process a run starts."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Outcome:
    """What one workload run measured. Times are seconds."""

    setup_s: float = 0.0
    cycle: list[float] = field(default_factory=list)  # tick -> latest commit
    idle: list[float] = field(default_factory=list)  # cycle with no changes
    reads: list[float] = field(default_factory=list)  # dashboard reads
    batches: list[float] = field(default_factory=list)  # one batch committed
    rounds: list[tuple[int, float]] = field(default_factory=list)  # (rows, wall) per schedule round
    disk_mb: float = 0.0
    driver_rss_mb: float = 0.0
    core_traces: set[int] = field(default_factory=set)
    rdd_pinned: int = 0  # peak persistent RDDs over the core schedule
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, name: str, ok: bool) -> None:
        """Count one attempted operation or correctness gate."""
        self.attempted += 1
        if not ok:
            self.failures.append(name)


def measure(ctx, workload, o: Outcome) -> None:
    """Run the workload's core ``SCHEDULE`` of cycle kinds ("tick" or
    "idle") once, then repeat it while ``ctx.seconds`` has not elapsed.

    A cycle is ``workload.prepare(kind)`` (the upstream change, untimed;
    returns the rows the cycle should commit), then the timed
    ``workload.cycle()`` and ``READS_PER_CYCLE`` timed dashboard reads,
    all in one trace. Disk, memory and the persistent-RDD peak are taken
    when the core schedule ends, so they and the per-layer counts cover
    the same work in every run."""
    schedule = workload.SCHEDULE
    walls: dict[str, list[float]] = {"tick": [], "idle": []}
    round_rows, round_wall, pinned = 0, 0.0, 0
    workload.batches.clear()
    start = time.perf_counter()
    i = 0
    while i < len(schedule) or time.perf_counter() - start < ctx.seconds:
        kind = schedule[i % len(schedule)]
        expected = workload.prepare(kind)
        with ctx.tracer.span("cycle") as sp:
            wall, committed, ok = workload.cycle()
            for _ in range(workload.READS_PER_CYCLE):
                t0 = time.perf_counter()
                read_ok = workload.read()
                o.reads.append(time.perf_counter() - t0)
                o.check(f"read{i}", read_ok)
        o.check(f"cycle{i}", ok and committed == expected)
        walls[kind].append(wall)
        round_rows += committed
        round_wall += wall
        if (i + 1) % len(schedule) == 0:
            o.rounds.append((round_rows, round_wall))
            round_rows, round_wall = 0, 0.0
        pinned = max(pinned, rdd_pinned(ctx.spark))
        i += 1
        if i <= len(schedule) and sp is not None:
            o.core_traces.add(sp.trace)
        if i == len(schedule):
            o.disk_mb = disk_mb(workload.roots)
            o.rdd_pinned = pinned
            o.driver_rss_mb = driver_rss_mb()
    o.cycle, o.idle = walls["tick"], walls["idle"]
    o.batches = list(workload.batches)


def corrupt(latest):
    """A copy of a latest-state table with one row's status changed: the
    smoke test's proof that the correctness gates catch a bad output."""
    from pyspark.sql import functions as F

    victim = latest.select("id").orderBy("id").first()["id"]
    return latest.withColumn(
        "status", F.when(F.col("id") == victim, F.lit("CORRUPTED")).otherwise(F.col("status"))
    )


def disk_mb(roots: list[str]) -> float:
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def rdd_pinned(spark) -> int:
    """Persistent RDDs the driver still tracks (cached or checkpointed)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def driver_rss_mb() -> float:
    """Peak RSS of the driver Python process (its high-water mark)."""
    with open("/proc/self/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024


def _host_jiffies() -> tuple[int, int, int]:
    """(busy, total, stolen) CPU jiffies of the host; steal is busy."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    busy = user + nice + system + irq + softirq + steal
    return busy, busy + idle + iowait, steal


def _proc_table() -> dict[int, tuple[int, int]]:
    """``pid -> (parent pid, CPU jiffies)`` of every process; the jiffies
    are user + system, reaped children included."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def _descendants(root: int, table: dict[int, tuple[int, int]]) -> list[int]:
    """Every process of ``table`` below ``root``."""
    found = []
    for pid in table:
        p = pid
        while p > 1 and p != root:
            p = table[p][0] if p in table else 0
        if p == root and pid != root:
            found.append(pid)
    return found


def _tree_jiffies(root: int) -> int:
    """CPU jiffies of ``root`` and every live descendant: the benchmark's
    own Python, JVM and workers."""
    table = _proc_table()
    return sum(table[pid][1] for pid in [root, *_descendants(root, table)] if pid in table)


def _ended(pid: int, zombie: bool) -> bool:
    """True once ``pid`` has exited and been reaped (reaping it if it is a
    child of this process), or, with ``zombie``, once it has exited."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return True
    return zombie and state == "Z"


def _wait_ended(pids: list[int], seconds: float, zombie: bool = False) -> list[int]:
    """Wait up to ``seconds`` for ``pids`` to end; returns those left."""
    deadline = time.monotonic() + seconds
    while True:
        left = [p for p in pids if not _ended(p, zombie)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)


def stop_processes() -> None:
    """Stop the Spark context and its gateway JVM, and wait until every
    process the run started (JVM, Python daemon and workers) has ended and
    been reaped, so that nothing outlives the run. Workers go first, while
    the JVM that started them is alive: each gets 5 s to exit, then is
    terminated, then killed. The JVM exits when its stdin closes (killed
    after 20 s) and is reaped here; children it had not
    reaped pass to init, and the wait lasts until init has reaped them."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    jvm_pid = jvm.pid if jvm is not None else None
    started = [p for p in _descendants(os.getpid(), _proc_table()) if p != jvm_pid]
    workers = started
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in workers if sig is not None else []:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        workers = _wait_ended(workers, 5.0, zombie=True)
        if not workers:
            break
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        try:
            jvm.stdin.close()
            jvm.wait(20.0)
        except (OSError, subprocess.TimeoutExpired):
            jvm.kill()
            jvm.wait()
    left = _descendants(os.getpid(), _proc_table())
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_ended(started + left, 10.0)


def _probe() -> float:
    """Wall seconds of fixed single-threaded CPU work."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


class NoiseGuard:
    """Host-noise guard. ``sample`` records the load average, the
    calibration probe (best of five) and CPU counters; ``verdict``
    compares the samples taken before and after the workload. Between
    them it charges every busy host CPU second not spent by the
    benchmark's own process tree to other load, and reports hypervisor
    steal separately."""

    DRIFT = 0.30  # probe wall after vs before
    FOREIGN = 0.25  # share of host CPU time used by other processes
    STEAL = 0.10  # share of host CPU time stolen by the hypervisor

    def __init__(self):
        self.samples: dict[str, dict] = {}
        self._counters: dict[str, tuple[int, int, int, int]] = {}

    def sample(self, label: str) -> None:
        self.samples[label] = {
            "loadavg": os.getloadavg(),
            "probe_s": min(_probe() for _ in range(5)),
        }
        self._counters[label] = (*_host_jiffies(), _tree_jiffies(os.getpid()))

    def verdict(self, reps: list[float]) -> dict:
        before, after = self.samples["before"], self.samples["after"]
        (b0, t0, s0, o0), (b1, t1, s1, o1) = self._counters["before"], self._counters["after"]
        total = max(t1 - t0, 1)
        foreign = max(b1 - b0 - (s1 - s0) - (o1 - o0), 0) / total
        steal = (s1 - s0) / total
        drift = abs(after["probe_s"] - before["probe_s"]) / before["probe_s"]
        reasons = []
        if drift > self.DRIFT:
            reasons.append(f"calibration drift {drift:.0%}")
        if foreign > self.FOREIGN:
            reasons.append(f"other processes used {foreign:.0%} of host CPU")
        if steal > self.STEAL:
            reasons.append(f"hypervisor stole {steal:.0%} of host CPU")
        if len(reps) >= 3 and all(a < b for a, b in zip(reps, reps[1:])):
            reasons.append("monotone-rising repetitions")
        return {
            "suspect": bool(reasons),
            "reasons": reasons,
            "foreign_cpu_share": foreign,
            "steal_share": steal,
            "probe_drift": drift,
            **self.samples,
        }
