"""Local replica of the driver's oracle check: run every REGISTRY query on
Spark and its oracle on DuckDB at a given sf dir; compare row count, sorted
schema, and order-insensitive values.

Usage: python tools/parity.py [--record] [sf_dir] [query ...]

Only ``--record`` writes the tracked parity record (``PARITY_LAST.json`` and
the generated blocks in ``SCALE_NOTES.md``/``COVERAGE.md``); without it a
run prints its verdicts and changes no tracked file.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import duckdb

from wms_data_pipeline_spark.plans.queries import REGISTRY
from wms_data_pipeline_spark.schemas import TESTDATA_TABLES
from wms_data_pipeline_spark.session import get_spark


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return s[:-6] if s.endswith("+00:00") else s
    return repr(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in idx) for r in rows)


def make_duck(sf_dir: str):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # driver testdata ships single files; tools/make_scale_data.py
        # tiles into Spark-style part-file DIRECTORIES — glob those
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def check_query(spark, con, name: str, sf_dir: str) -> "str | None":
    """Run one registry query on Spark and its oracle on DuckDB; return
    None on pass (or rows-only), else a one-line failure description."""
    spec = REGISTRY[name]
    try:
        sdf = spec.fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
    except Exception as e:
        return f"spark error: {type(e).__name__}: {str(e)[:300]}"
    if spec.oracle is None:
        return None
    try:
        ddf = con.sql(spec.oracle)
        dcols = [d[0] for d in ddf.description]
        drows = ddf.fetchall()
    except Exception as e:
        return f"duckdb error: {type(e).__name__}: {str(e)[:300]}"
    if sorted(scols) != sorted(dcols):
        return f"schema {sorted(scols)} vs {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} vs {len(drows)}"
    s_set = _rowset(scols, [tuple(r) for r in srows])
    d_set = _rowset(dcols, drows)
    if s_set != d_set:
        diff = [(a, b) for a, b in zip(s_set, d_set) if a != b][:3]
        return f"value mismatch; first diffs: {diff}"
    return None


def main(argv: "list[str] | None" = None) -> int:
    args = sys.argv[1:] if argv is None else list(argv)
    record = "--record" in args
    args = [a for a in args if a != "--record"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:] or list(REGISTRY)
    spark = get_spark("parity")
    spark.sparkContext.setLogLevel("ERROR")
    con = make_duck(sf_dir)

    failures = []
    for name in names:
        err = check_query(spark, con, name, sf_dir)
        if err is not None:
            failures.append(name)
            print(f"FAIL {name}: {err}")
        elif REGISTRY[name].oracle is None:
            print(f"ok   {name}: rows-only (no oracle)")
        else:
            print(f"ok   {name}: rows match")

    print(f"\n{len(names) - len(failures)}/{len(names)} pass")
    if record:
        _record_results(names, failures, sf_dir, root=REPO_ROOT)
    out = os.environ.get("PARITY_OUT")
    if out:
        # standalone per-run artifact (e.g. PARITY_SF01.json — the r14
        # certification that the oracle gate holds ABOVE the size-dispatch
        # thresholds, not just at sf0.01)
        bad = set(failures)
        payload = {
            "sf_dir": sf_dir,
            "checked": len(names),
            "pass": sum(1 for n in names if n not in bad),
            "rows_only": [n for n in names if REGISTRY[n].oracle is None],
            "fail": sorted(failures),
            "results": {
                n: ("fail" if n in bad else
                    "rows_only" if REGISTRY[n].oracle is None else "pass")
                for n in names
            },
        }
        with open(out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    spark.stop()
    return 1 if failures else 0


def _record_results(
    checked: list[str], failures: list[str], sf_dir: str, root: str = REPO_ROOT
) -> None:
    """Persist per-name pass/fail to ``<root>/PARITY_LAST.json``.

    __spark_entry__'s rotation subtracts last-run parity failures from the
    driver-verified set, so a query that re-breaks on new testdata rotates
    back INTO the driver's 50-entry verification window instead of hiding
    behind a stale green row (round-3 verdict ask #7). Partial runs update
    only the names they checked, and ``checked`` records, per name, the
    scale and time of the run its result comes from."""
    import glob
    import re

    path = os.path.join(root, "PARITY_LAST.json")
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)", p))
    ]
    cur_round = max(rounds, default=0)
    try:
        with open(path) as f:
            state = json.load(f)
    except Exception:
        state = {"results": {}}
    # a single run-wide stamp (older files) cannot say which scale each
    # cumulative result came from
    state.pop("sf_dir", None)
    state.pop("checked_at", None)
    results = state.setdefault("results", {})
    fail_rounds = state.setdefault("last_fail_round", {})
    stamps = state.setdefault("checked", {})
    now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    bad = set(failures)
    for name in checked:
        results[name] = "fail" if name in bad else "pass"
        stamps[name] = {"sf_dir": sf_dir, "checked_at": now}
        if name in bad:
            # Sticky: a failure observed while round N is the latest
            # CORRECTNESS file invalidates every driver green up to and
            # including round N — only a NEWER driver round (or nothing,
            # if the name never re-greens) clears it. A later local pass
            # does NOT clear it: local parity and driver certification are
            # different gates, and the driver must re-certify.
            fail_rounds[name] = max(cur_round, fail_rounds.get(name, 0))
    with open(path, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
    _sync_scale_notes(root, state)


def _sync_scale_notes(root: str, state: dict) -> None:
    """Rewrite the generated parity-state blocks in SCALE_NOTES.md and
    COVERAGE.md from the artifact just written — self-reported counts are
    generated, never typed (VERDICT r4 ask #8: a hand-typed 127/127
    outlived a 128-query registry). Counts are given per scale, the scale
    each name was last checked at."""
    begin = "<!-- generated:parity (written by tools/parity.py — do not edit) -->"
    end = "<!-- /generated:parity -->"
    results = state.get("results", {})
    stamps = state.get("checked", {})
    n_pass = sum(1 for v in results.values() if v == "pass")
    n_oracled = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    # sf_dir (None: not recorded) -> [names, passes, last checked_at]
    by_scale: dict = {}
    for name, res in results.items():
        stamp = stamps.get(name, {})
        agg = by_scale.setdefault(stamp.get("sf_dir"), [0, 0, ""])
        agg[0] += 1
        agg[1] += res == "pass"
        agg[2] = max(agg[2], stamp.get("checked_at", ""))
    lines = [
        f"- `{sf}`: {p}/{n} pass, last checked {last}"
        if sf is not None else f"- scale not recorded: {p}/{n} pass"
        for sf, (n, p, last) in sorted(
            by_scale.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
        )
    ]
    block = (
        f"{begin}\n"
        f"**Parity state** (cumulative, per-name latest result; artifact:\n"
        f"`PARITY_LAST.json`): **{n_pass}/{len(results)} pass** of a\n"
        f"**{len(REGISTRY)}-query registry** ({n_oracled} oracle-paired),\n"
        f"by the scale each name was last checked at:\n"
        + "\n".join(lines)
        + f"\n{end}"
    )
    for fname in ("SCALE_NOTES.md", "COVERAGE.md"):
        doc = os.path.join(root, fname)
        try:
            with open(doc) as f:
                text = f.read()
        except FileNotFoundError:
            continue
        if begin in text and end in text:
            head, rest = text.split(begin, 1)
            _, tail = rest.split(end, 1)
            text = head + block + tail
        elif fname == "SCALE_NOTES.md":
            text = text.rstrip() + "\n\n" + block + "\n"
        else:
            continue  # COVERAGE.md only syncs where a block was placed
        with open(doc, "w") as f:
            f.write(text)


if __name__ == "__main__":
    sys.exit(main())
