"""tools/mock_wms_api.py contract tests: the standalone mock upstream the
compose stack schedules against (RUNBOOK §7). Pins the API surface the
extractor depends on (SURVEY §3.3: envelope shape, limit/offset, stable
(updated_at, id) order, updated_after strict-greater filter) and the
deterministic CDC advance, then runs the REAL extractor against it live
over HTTP — the same loop the compose `scheduler` service executes."""
import json
import sys
import threading
import urllib.parse
import urllib.request
from contextlib import contextmanager
from http.server import ThreadingHTTPServer
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from mock_wms_api import Dataset, make_handler  # noqa: E402


@contextmanager
def _serve(n_rows):
    ds = Dataset(n_rows)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(ds))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", ds
    finally:
        srv.shutdown()


@pytest.fixture()
def api():
    with _serve(120) as served:
        yield served


def _get(base, path):
    return json.load(urllib.request.urlopen(base + path))


def _advance(base):
    req = urllib.request.Request(base + "/advance", method="POST")
    return json.loads(urllib.request.urlopen(req).read())


def test_envelope_pagination_and_stable_order(api):
    base, _ds = api
    p1 = _get(base, "/ib/receipts?limit=50&offset=0")
    p2 = _get(base, "/ib/receipts?limit=50&offset=50")
    assert set(p1) == {"data", "meta"} and p1["meta"]["count"] == 120
    assert len(p1["data"]) == 50 and len(p2["data"]) == 50
    # stable server-side order across pages (op 4's contract)
    keys = [(r["updated_at"], r["id"]) for r in p1["data"] + p2["data"]]
    assert keys == sorted(keys)
    # no overlap between pages
    assert {r["id"] for r in p1["data"]}.isdisjoint(r["id"] for r in p2["data"])
    # rows carry the raw-schema surface: nested typed lines, Long ids
    row = p1["data"][0]
    assert isinstance(row["lines"], list)
    assert row["lines"][0]["expected_qty"] >= 1
    assert isinstance(row["warehouse_id"], int)


def test_updated_after_is_strict_and_advance_is_deterministic():
    # 3,000 rows span more than a day of initial timestamps: an advance
    # must still stamp past all of them, or the slice falls below the
    # watermark and no incremental reader ever sees it
    for n_rows in (120, 3000):
        with _serve(n_rows) as (base, _ds):
            orders = _get(base, f"/ob/orders?limit={n_rows}")["data"]
            wm = max(r["updated_at"] for r in orders)
            # strict >: the watermark row itself must not reappear
            assert _get(
                base, "/ob/orders?limit=500&updated_after=" + urllib.parse.quote(wm)
            )["data"] == []
            adv = _advance(base)
            # a tenth of each entity's rows: 12 per entity at 120 rows
            assert adv == {"step": 1, "touched": n_rows // 5}
            inc = _get(
                base, f"/ob/orders?limit={n_rows}&updated_after=" + urllib.parse.quote(wm)
            )["data"]
            assert len(inc) == n_rows // 10
            assert {r["status"] for r in inc} == {"READYTOPICK"}
            # deterministic: a second Dataset advanced once is identical
            ds2 = Dataset(n_rows)
            ds2.advance()
            rows2, _ = ds2.page("ob_orders", n_rows, 0, wm)
            assert [r["id"] for r in rows2] == [r["id"] for r in inc]


def test_extractor_round_trip_over_live_http(api, spark, tmp_path):
    from wms_data_pipeline_spark.pipeline import extractor_run

    base, _ds = api
    landing = str(tmp_path / "landing")
    control = str(tmp_path / "control")
    r1 = extractor_run(
        spark, base, ["ib_receipts"], landing, control, lookback_seconds=0
    )
    assert r1[0].rows == 120
    # advance one CDC step -> the next run must extract EXACTLY the slice
    _advance(base)
    r2 = extractor_run(
        spark, base, ["ib_receipts"], landing, control, lookback_seconds=0
    )
    assert r2[0].rows == 12
    # and a third run with nothing advanced extracts nothing
    r3 = extractor_run(
        spark, base, ["ib_receipts"], landing, control, lookback_seconds=0
    )
    assert r3[0].rows == 0
