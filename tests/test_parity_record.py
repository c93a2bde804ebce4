"""``tools/parity.py`` bookkeeping: PARITY_LAST.json keeps, per query, the
scale its cumulative result was checked at, and the generated parity
block counts passes per scale."""

import json

from tools.parity import _record_results
from wms_data_pipeline_spark.plans.queries import REGISTRY


def test_parity_block_counts_per_scale(tmp_path):
    (tmp_path / "SCALE_NOTES.md").write_text("# Scale notes\n")
    names = sorted(REGISTRY)
    n = len(names)
    _record_results(names, [], "/data/sf0.01", root=str(tmp_path))
    _record_results(names[:3], [names[1]], "/data/sf0.1", root=str(tmp_path))

    state = json.loads((tmp_path / "PARITY_LAST.json").read_text())
    assert state["results"][names[0]] == "pass"
    assert state["results"][names[1]] == "fail"
    assert state["last_fail_round"] == {names[1]: 0}
    assert state["checked"][names[0]]["sf_dir"] == "/data/sf0.1"
    assert state["checked"][names[3]]["sf_dir"] == "/data/sf0.01"
    assert "sf_dir" not in state  # no run-wide stamp over every result

    block = (tmp_path / "SCALE_NOTES.md").read_text()
    assert f"**{n - 1}/{n} pass**" in block
    assert f"- `/data/sf0.01`: {n - 3}/{n - 3} pass" in block
    assert "- `/data/sf0.1`: 2/3 pass" in block


def test_parity_run_writes_tracked_files_only_with_record(tmp_path, monkeypatch):
    """A verification run prints its verdicts and leaves every tracked
    file as it was; ``--record`` writes the record."""
    from types import SimpleNamespace

    import tools.parity as parity

    tracked = {"PARITY_LAST.json": "{}\n", "SCALE_NOTES.md": "# Scale notes\n", "COVERAGE.md": "# Coverage\n"}
    for name, text in tracked.items():
        (tmp_path / name).write_text(text)
    spark = SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None), stop=lambda: None)
    monkeypatch.setattr(parity, "REPO_ROOT", str(tmp_path))
    monkeypatch.setattr(parity, "get_spark", lambda name: spark)
    monkeypatch.setattr(parity, "make_duck", lambda sf_dir: None)
    monkeypatch.setattr(parity, "check_query", lambda spark, con, name, sf_dir: None)
    monkeypatch.delenv("PARITY_OUT", raising=False)
    names = sorted(REGISTRY)[:2]

    assert parity.main(["/data/sf0.01", *names]) == 0
    assert {p.name: p.read_text() for p in tmp_path.iterdir()} == tracked

    assert parity.main(["--record", "/data/sf0.01", *names]) == 0
    state = json.loads((tmp_path / "PARITY_LAST.json").read_text())
    assert {n: state["results"][n] for n in names} == dict.fromkeys(names, "pass")
    assert "generated:parity" in (tmp_path / "SCALE_NOTES.md").read_text()
