"""Control-plane tests — watermark monotonicity + run-log lifecycle
(reference test_watermark_repo.py invariants)."""

from datetime import datetime, timezone

import pytest

from wms_data_pipeline_spark.control.runlog import ERROR_TEXT_CAP, RunLog
from wms_data_pipeline_spark.control.watermark import (
    WatermarkStore,
    compute_new_watermark,
)

T_OLD = datetime(2026, 1, 1, tzinfo=timezone.utc)
T_NEW = datetime(2026, 1, 2, tzinfo=timezone.utc)


def test_default_when_empty(spark, tmp_path):
    ws = WatermarkStore(spark, str(tmp_path / "wm"))
    assert ws.get("p", "e") == datetime(1970, 1, 1, tzinfo=timezone.utc)


def test_first_insert_and_readback(spark, tmp_path):
    ws = WatermarkStore(spark, str(tmp_path / "wm"))
    ws.upsert("p", "e", T_NEW, "run-1")
    assert ws.get("p", "e") == T_NEW


def test_monotonic_time_but_runid_overwritten(spark, tmp_path):
    # pinned by reference test_watermark_repo.py:48-65: a stale run never
    # moves the time backwards but DOES take over last_success_run_id
    ws = WatermarkStore(spark, str(tmp_path / "wm"))
    ws.upsert("p", "e", T_NEW, "run-new")
    ws.upsert("p", "e", T_OLD, "run-stale")
    assert ws.get("p", "e") == T_NEW
    row = ws.table.read().collect()[0]
    assert row["last_success_run_id"] == "run-stale"


def test_other_keys_untouched(spark, tmp_path):
    ws = WatermarkStore(spark, str(tmp_path / "wm"))
    ws.upsert("p", "e1", T_OLD, "r1")
    ws.upsert("p", "e2", T_NEW, "r2")
    assert ws.get("p", "e1") == T_OLD
    assert ws.get("p", "e2") == T_NEW


def test_keys_with_separator_characters_stay_distinct(spark, tmp_path):
    # each (pipeline, entity) is one document whose file name escapes the
    # key, so "a.b"/"c" and "a"/"b.c" cannot share a file
    ws = WatermarkStore(spark, str(tmp_path / "wm"))
    ws.upsert("a.b", "c", T_OLD, "r1")
    ws.upsert("a", "b.c", T_NEW, "r2")
    ws.upsert("p/q", "é ~", T_NEW, "r3")
    assert ws.get("a.b", "c") == T_OLD
    assert ws.get("a", "b.c") == T_NEW == ws.get("p/q", "é ~")
    assert ws.table.read().count() == 3


def test_carry_forward_on_empty_batch():
    assert compute_new_watermark(None, T_OLD) == T_OLD
    assert compute_new_watermark(T_NEW, T_OLD) == T_NEW
    assert compute_new_watermark(T_OLD, T_NEW) == T_NEW  # max guards races


def test_runlog_lifecycle(spark, tmp_path):
    rl = RunLog(spark, str(tmp_path / "runlog"))
    rl.start("r1", "pipe", "ent")
    rl.start("r1", "pipe", "ent")  # ON CONFLICT DO NOTHING
    rl.finish_success("r1", rows_in=10, rows_inserted_history=8, rows_upserted_latest=5)
    rows = rl.table.read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["status"] == "success" and r["rows_in"] == 10
    assert r["rows_inserted_history"] == 8 and r["rows_upserted_latest"] == 5


def test_runlog_failure_truncates_error(spark, tmp_path):
    rl = RunLog(spark, str(tmp_path / "runlog"))
    rl.start("r2", "pipe", "ent")
    rl.finish_failed("r2", "x" * 5000)
    r = rl.table.read().collect()[0]
    assert r["status"] == "failed" and len(r["error"]) == ERROR_TEXT_CAP


def test_runlog_finish_unknown_run_raises(spark, tmp_path):
    rl = RunLog(spark, str(tmp_path / "runlog"))
    with pytest.raises(ValueError):
        rl.finish_success("ghost", 0, 0, 0)


def test_control_plane_runs_no_spark_job(spark, tmp_path, jobs_of):
    # the whole control lifecycle of one entity-cycle is driver-side file
    # I/O; a failed-then-successful run keeps its error text
    ws = WatermarkStore(spark, str(tmp_path / "wm"))
    rl = RunLog(spark, str(tmp_path / "runlog"))

    def cycle():
        ws.get("p", "e")
        ws.upsert("p", "e", T_NEW, "r1")
        rl.start("r1", "pipe", "ent")
        rl.start("r1", "pipe", "ent")
        rl.finish_failed("r1", "boom")
        rl.finish_success("r1", rows_in=3, rows_inserted_history=2, rows_upserted_latest=1)

    assert jobs_of(cycle)[1] == []
    assert ws.get("p", "e") == T_NEW
    (r,) = rl.table.read().collect()
    assert (r["status"], r["rows_in"], r["error"]) == ("success", 3, "boom")


def test_legacy_parquet_control_roots_migrate_once(spark, tmp_path, jobs_of):
    """Roots in the ParquetTable layout (``v=<n>/`` + ``_VERSION``) read as
    before, then live as documents: the next cycle runs no Spark job."""
    import os

    from wms_data_pipeline_spark.control.runlog import RUNLOG_SCHEMA
    from wms_data_pipeline_spark.control.watermark import WATERMARK_SCHEMA
    from wms_data_pipeline_spark.operators.merge import ParquetTable

    wm_root, rl_root = str(tmp_path / "wm"), str(tmp_path / "runlog")
    ParquetTable(spark, wm_root)._publish(spark.createDataFrame(
        [("p", "e1", T_NEW, "r-new", T_NEW), ("p", "e2", T_OLD, "r-old", T_OLD)],
        WATERMARK_SCHEMA,
    ))
    ParquetTable(spark, rl_root)._publish(spark.createDataFrame(
        [("r1", "pipe", "ent", T_OLD, T_NEW, "success", 10, 8, 5, None)],
        RUNLOG_SCHEMA,
    ))

    for root in (wm_root, rl_root):
        os.makedirs(os.path.join(root, "keep"))
        with open(os.path.join(root, "notes.txt"), "w") as f:
            f.write("not a control document")

    ws = WatermarkStore(spark, wm_root)
    assert ws.get("p", "e1") == T_NEW and ws.get("p", "e2") == T_OLD
    assert ws.get("p", "e3") == datetime(1970, 1, 1, tzinfo=timezone.utc)
    got = {r["entity"]: r for r in ws.table.read().collect()}
    assert got["e1"]["last_success_run_id"] == "r-new"
    assert got["e2"]["last_success_time"] == T_OLD.replace(tzinfo=None)
    rl = RunLog(spark, rl_root)
    rl.start("r1", "pipe", "ent")  # already logged: ON CONFLICT DO NOTHING
    (r,) = rl.table.read().collect()
    assert (r["status"], r["rows_in"], r["rows_upserted_latest"]) == ("success", 10, 5)
    assert r["started_at"] == T_OLD.replace(tzinfo=None)
    # the legacy layout is gone: nothing reads it again; entries the
    # migration does not own are left alone
    for root in (wm_root, rl_root):
        assert sorted(n for n in os.listdir(root) if not n.endswith(".json")) == ["keep", "notes.txt"]

    ws, rl = WatermarkStore(spark, wm_root), RunLog(spark, rl_root)

    def cycle():
        ws.upsert("p", "e1", T_OLD, "r2")
        assert ws.get("p", "e1") == T_NEW
        rl.start("r2", "pipe", "ent")
        rl.finish_success("r2", 1, 1, 1)

    assert jobs_of(cycle)[1] == []
    assert sorted(r["run_id"] for r in rl.table.read().collect()) == ["r1", "r2"]


def test_control_plane_on_s3a_root_without_conditional_create(spark, tmp_path):
    """The documents are written by tmp write + rename only, so the control
    plane works on a store with no conditional create (s3a without the
    capability or the conf assertion), as the ParquetTable tables did."""
    ws = WatermarkStore(spark, str(tmp_path / "wm"))
    rl = RunLog(spark, str(tmp_path / "runlog"))
    for fs in (ws.table._fs, rl.table._fs):
        fs._scheme = "s3a"  # emulate the resolved store (local FS underneath)
        fs._cond_create = None
    ws.upsert("p", "e", T_NEW, "r1")
    assert ws.get("p", "e") == T_NEW
    rl.start("r1", "pipe", "ent")
    rl.finish_failed("r1", "boom")
    rl.start("r1", "pipe", "ent")  # already logged: ON CONFLICT DO NOTHING
    rl.finish_success("r1", rows_in=3, rows_inserted_history=2, rows_upserted_latest=1)
    (r,) = rl.table.read().collect()
    assert (r["status"], r["rows_in"], r["error"]) == ("success", 3, "boom")


def test_corrupt_control_document_raises(spark, tmp_path):
    """A document is only ever written whole, so one that is not a JSON
    object is corruption: reading it raises instead of returning the
    default watermark (which would re-extract everything)."""
    ws = WatermarkStore(spark, str(tmp_path / "wm"))
    ws.upsert("p", "e", T_NEW, "r1")
    path = ws.table._path("p", "e")
    for garbage in ("{\"pipeline_name\": ", "[]", ""):
        with open(path.removeprefix("file:"), "w") as f:
            f.write(garbage)
        with pytest.raises(ValueError):
            ws.get("p", "e")
