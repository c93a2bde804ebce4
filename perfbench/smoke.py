"""Smoke test of the benchmark itself, at tiny input sizes:

    python3 perfbench/smoke.py

For each workload it checks that an untraced run prints every end-to-end
metric and a traced run every per-layer metric, each with its unit, with
all outputs correct; that a run checking a corrupted output reports it as
failed; and that a directory without the program makes the benchmark exit
non-zero without a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import E2E_UNITS, WORKLOADS  # noqa: E402
from spans import PER_LAYER_UNITS  # noqa: E402


def bench(*extra: str, cwd: Path = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", "--size", "smoke", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return proc.returncode, None


def check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    for w in WORKLOADS:
        for trace, units in (("0", E2E_UNITS), ("1", PER_LAYER_UNITS)):
            code, res = bench("--workload", w, "--trace", trace)
            check(code == 0 and res is not None, f"{w} trace={trace}: exit 0 with a result")
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w} trace={trace}: result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{w} trace={trace}: outputs correct")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == units, f"{w} trace={trace}: every metric with its unit")
        code, res = bench("--workload", w, "--trace", "0", "--corrupt")
        check(code == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
              f"{w}: corrupted output fails its gate")
    bare = ROOT / ".perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    try:
        code, res = bench("--workload", WORKLOADS[0], "--trace", "0", cwd=bare)
        check(code != 0 and res is None, "without the program: non-zero exit, no result")
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    main()
