"""A/B two git revisions on registry queries, interleaved, result-hash first.

Usage:
    python tools/ab.py REV_A REV_B --queries q1,q2 [--pairs N]

Each revision is exported with ``git archive`` (from the repository of the
current directory) into a temp dir. Each pair runs one fresh subprocess per
side against ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1); the
pairs alternate which side runs first, so host drift lands on both sides.
Per query a subprocess does one warm-up run that collects the result and
hashes it (``tools/parity._rowset``: order-insensitive, canonical values),
then one timed ``noop``-sink run like ``bench.py`` (the query fn is inside
the timer). Every run of both sides must report the same hash per query;
on a mismatch nothing is timed or printed and the exit status is 1.

Prints ONE JSON line: per query the hash, row count, each side's times,
median and IQR, and ``b_wins`` (pairs where B was faster).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time


class HashMismatch(Exception):
    pass


def _export(rev: str, dest: str) -> str:
    """``git archive`` REV into DEST; returns the full commit sha."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {rev} failed")
    return sha


def _run_side(tree: str, queries: list[str]) -> dict:
    """One fresh interpreter (and JVM) running QUERIES from TREE. Both the
    driver and the Python workers import the package from TREE: cwd and
    PYTHONPATH point there, so UDF bodies run the revision's code too."""
    env = dict(os.environ, PYTHONPATH=tree)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", tree,
         "--queries", ",".join(queries)],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"side in {tree} failed:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _worker(tree: str, sf_dir: str, queries: list[str]) -> None:
    import gc

    sys.path.insert(0, tree)
    import wms_data_pipeline_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(os.path.abspath(tree)):
        raise RuntimeError(f"package imported from {pkg.__file__}, not {tree}")
    from parity import _rowset  # the package is already bound to TREE

    from wms_data_pipeline_spark.plans.queries import REGISTRY
    from wms_data_pipeline_spark.session import get_spark

    spark = get_spark("wms-ab")
    spark.sparkContext.setLogLevel("ERROR")
    res = {}
    for name in queries:
        fn = REGISTRY[name].fn
        df = fn(spark, sf_dir)  # warm-up: pays codegen, yields the hash
        rows = _rowset(df.columns, [tuple(r) for r in df.collect()])
        digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        res[name] = {
            "sec": time.perf_counter() - t0, "hash": digest, "rows": len(rows)
        }
        gc.collect()  # as bench.py: free the finished query's blocks
    spark.stop()
    print(json.dumps(res))


def check_hashes(runs_a: list[dict], runs_b: list[dict]) -> dict[str, str]:
    """The per-query hash every run of both sides agrees on; raises
    HashMismatch naming the query otherwise."""
    agreed = {}
    for name in runs_a[0]:
        seen = {r[name]["hash"] for r in runs_a + runs_b}
        if len(seen) != 1:
            raise HashMismatch(f"{name}: result hashes differ: {sorted(seen)}")
        agreed[name] = seen.pop()
    return agreed


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def summarize(runs_a: list[dict], runs_b: list[dict]) -> dict:
    """Per-query timing summary; call only after ``check_hashes``."""
    hashes = check_hashes(runs_a, runs_b)
    out = {}
    for name, digest in hashes.items():
        ta = [r[name]["sec"] for r in runs_a]
        tb = [r[name]["sec"] for r in runs_b]
        med_a, med_b = statistics.median(ta), statistics.median(tb)
        out[name] = {
            "hash": digest,
            "rows": runs_a[0][name]["rows"],
            "a": {"median": round(med_a, 3), "iqr": round(_iqr(ta), 3),
                  "times": [round(t, 3) for t in ta]},
            "b": {"median": round(med_b, 3), "iqr": round(_iqr(tb), 3),
                  "times": [round(t, 3) for t in tb]},
            "b_wins": sum(b < a for a, b in zip(ta, tb)),
        }
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev_a", nargs="?")
    ap.add_argument("rev_b", nargs="?")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--worker", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = [q for q in args.queries.split(",") if q]
    if args.worker:
        _worker(args.worker, sf_dir, queries)
        return 0
    if not (args.rev_a and args.rev_b) or args.pairs < 1:
        ap.error("REV_A, REV_B and --pairs >= 1 are required")

    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {s: os.path.join(tmp, s) for s in "ab"}
        shas = {s: _export(r, trees[s])
                for s, r in (("a", args.rev_a), ("b", args.rev_b))}
        runs = {"a": [], "b": []}
        for i in range(args.pairs):
            for s in ("ab" if i % 2 == 0 else "ba"):
                runs[s].append(_run_side(trees[s], queries))
                print(f"pair {i + 1}/{args.pairs} side {s} done",
                      file=sys.stderr, flush=True)
            try:
                check_hashes(runs["a"], runs["b"])
            except HashMismatch as e:
                print(f"ab: {e}", file=sys.stderr)
                return 1
    print(json.dumps({
        "rev_a": shas["a"], "rev_b": shas["b"], "sf_dir": sf_dir,
        "pairs": args.pairs, "queries": summarize(runs["a"], runs["b"]),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
