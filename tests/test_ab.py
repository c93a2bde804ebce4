"""tools/ab.py: the two-revision A/B harness refuses to time results that
differ, and an end-to-end run prints the documented JSON line."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tools.ab import HashMismatch, check_hashes, summarize

REPO = Path(__file__).resolve().parent.parent


def _run(sec, digest):
    return {"q": {"sec": sec, "hash": digest, "rows": 1}}


def test_comparison_refuses_differing_hashes():
    with pytest.raises(HashMismatch, match="q: result hashes differ"):
        summarize([_run(1.0, "x")], [_run(0.5, "y")])
    # a side whose own runs disagree is refused too
    with pytest.raises(HashMismatch):
        check_hashes([_run(1.0, "x"), _run(1.0, "z")], [_run(1.0, "x")] * 2)
    got = summarize([_run(2.0, "x"), _run(3.0, "x")], [_run(1.0, "x"), _run(4.0, "x")])
    assert got["q"]["hash"] == "x"
    assert got["q"]["b_wins"] == 1
    assert got["q"]["a"]["median"] == 2.5 and got["q"]["b"]["iqr"] == 1.5


def test_ab_head_against_head_smoke():
    probe = subprocess.run(
        ["git", "rev-parse", "--verify", "HEAD"], cwd=REPO, capture_output=True
    )
    if probe.returncode != 0:
        pytest.skip("not a git checkout: tools/ab.py exports revisions with git")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, "tools/ab.py", "HEAD", "HEAD",
         "--queries", "rel_q6_forecast_revenue", "--pairs", "1"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"rev_a", "rev_b", "sf_dir", "pairs", "queries"}
    assert out["rev_a"] == out["rev_b"] and out["pairs"] == 1
    q = out["queries"]["rel_q6_forecast_revenue"]
    assert set(q) == {"hash", "rows", "a", "b", "b_wins"}
    assert len(q["hash"]) == 64 and q["rows"] == 1
    for side in ("a", "b"):
        assert set(q[side]) == {"median", "iqr", "times"}
        assert len(q[side]["times"]) == 1 and q[side]["median"] > 0
