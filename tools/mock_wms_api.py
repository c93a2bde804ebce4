"""Standalone mock WMS API server — the development stand-in for the
upstream system the extractor pulls from (reference services/mock_api,
wired into its docker-compose as `mock-api`; semantics of the API
surface per SURVEY §3.3: limit/offset pagination, `updated_after`
incremental filter, stable (updated_at, id) order).

Pure stdlib (no Spark, no third-party deps) so it runs in any
container: `python tools/mock_wms_api.py --port 8000 --rows 5000`.

Endpoints:
    GET /ib/receipts?limit=&offset=&updated_after=
    GET /ob/orders?limit=&offset=&updated_after=
    POST /advance           -- one deterministic CDC step (see below)
    GET /health

Envelope: {"data": [...], "meta": {"count": N}} — the shape
sources/rest.py expects. Rows carry id, status, updated_at, lines
(nested), warehouse_id — the normalize surface of SURVEY §2.1 ops
6-10.

CDC: each POST /advance moves a deterministic slice of rows one step
through the reference's status machines (streaming/cdc.py:1-73 —
receipts NEW→RECEIVING→PUTAWAY→CLOSED, orders NEW→PICKING→PACKED→
SHIPPED) and bumps their updated_at past the current max, so repeated
extractor runs observe genuine incremental batches. Deterministic:
the same advance sequence always produces the same dataset (seeded by
row index, not wall clock)."""

from __future__ import annotations

import argparse
import json
import threading
from datetime import datetime, timedelta, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

# The reference's status machines (main.py:185-207; also
# wms_data_pipeline_spark/schemas.py IB_STATUS_FLOW / OB_STATUS_FLOW).
RECEIPT_STATES = ["NEW", "PROCESSING", "FINISHED"]
ORDER_STATES = ["NEW", "READYTOPICK", "PICKING", "PICKED", "PACKING", "PACKED"]

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def _parse_iso(value: str) -> datetime:
    """Parse an ISO-8601 cursor/row timestamp, normalizing a trailing 'Z'
    (datetime.fromisoformat only accepts it on 3.11+; normalize anyway so
    behavior is version-independent). Naive datetimes are treated as UTC so
    'Z', '+00:00' and naive forms of the same instant compare equal.
    Raises ValueError on garbage — the HTTP handler maps that to a 400."""
    if value.endswith(("Z", "z")):
        value = value[:-1] + "+00:00"
    dt = datetime.fromisoformat(value)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt


def _ib_row(i: int) -> dict:
    """One inbound receipt in the raw API shape (reference main.py:49-78 ==
    schemas.IB_RECEIPTS_RAW): string times pre-normalize, Long ids."""
    created = _iso(_EPOCH + timedelta(minutes=i))
    return {
        "id": f"rcpt-{i:06d}",
        "po_code": f"PO-{i:06d}",
        "po_date": _iso(_EPOCH + timedelta(minutes=i, hours=-24)),
        "status": RECEIPT_STATES[0],
        "note": None,
        "processed_by": f"user-{i % 7}",
        "contact_name": f"contact-{i % 23}",
        "contact_phone": f"+84-{900000000 + i}",
        "client_id": 100 + i % 4,
        "warehouse_id": i % 5,
        "created_by": f"user-{i % 7}",
        "created_at": created,
        "updated_by": f"user-{i % 7}",
        "updated_at": created,
        "finished_at": None,
        "lines": [
            {
                "line_id": f"rl-{i:06d}-{j}",
                "product_id": (i * 7 + j) % 997,
                "sku": f"sku-{(i * 7 + j) % 997}",
                "qty_unit_id": 1 + j % 3,
                "expected_qty": 1 + (i + j) % 9,
                "actual_qty": 0,
            }
            for j in range(1 + i % 3)
        ],
    }


def _ob_row(i: int) -> dict:
    """One outbound order in the raw API shape (reference main.py:81-114 ==
    schemas.OB_ORDERS_RAW)."""
    created = _iso(_EPOCH + timedelta(minutes=i, seconds=30))
    return {
        "id": f"ord-{i:06d}",
        "so_code": f"SO-{i:06d}",
        "expected_delivery_date": _iso(_EPOCH + timedelta(minutes=i, hours=48)),
        "actual_delivery_date": None,
        "customer_id": 1000 + i % 50,
        "shipping_address_id": 5000 + i % 80,
        "total_amount": round(10.0 + (i % 100) * 1.5, 2),
        "actual_amount": None,
        "note": None,
        "client_id": 100 + i % 4,
        "warehouse_id": i % 5,
        "status": ORDER_STATES[0],
        "total_cod_amount": 0.0,
        "total_weight": round(0.5 + (i % 20) * 0.25, 2),
        "total_volume": round(0.01 + (i % 10) * 0.002, 3),
        "created_by": f"user-{i % 7}",
        "created_at": created,
        "updated_by": f"user-{i % 7}",
        "updated_at": created,
        "lines": [
            {
                "line_id": f"ol-{i:06d}-{j}",
                "product_id": (i * 11 + j) % 997,
                "sku": f"sku-{(i * 11 + j) % 997}",
                "qty": 1 + (i + j) % 5,
            }
            for j in range(1 + i % 2)
        ],
    }


class Dataset:
    """In-memory entity tables with deterministic CDC stepping."""

    def __init__(self, n_rows: int):
        self.lock = threading.Lock()
        self.step = 0
        self.tables: dict[str, list[dict]] = {
            "ib_receipts": [_ib_row(i) for i in range(n_rows)],
            "ob_orders": [_ob_row(i) for i in range(n_rows)],
        }

    def advance(self) -> dict:
        """One CDC step: rows whose index ≡ step (mod 10) advance one
        status (terminal states stay), updated_at moves one minute past the
        current max of either table — so an `updated_after` reader sees
        exactly this slice, at any dataset size."""
        with self.lock:
            self.step += 1
            touched = 0
            new_ts = _iso(max(
                _parse_iso(row["updated_at"])
                for rows in self.tables.values()
                for row in rows
            ) + timedelta(minutes=1))
            for entity, states in (
                ("ib_receipts", RECEIPT_STATES),
                ("ob_orders", ORDER_STATES),
            ):
                rows = self.tables[entity]
                for i, row in enumerate(rows):
                    if i % 10 != self.step % 10:
                        continue
                    pos = states.index(row["status"])
                    if pos + 1 < len(states):
                        row["status"] = states[pos + 1]
                        row["updated_at"] = new_ts
                        if entity == "ib_receipts" and row["status"] == "FINISHED":
                            row["finished_at"] = new_ts
                        touched += 1
            return {"step": self.step, "touched": touched}

    def page(self, entity: str, limit: int, offset: int, updated_after):
        with self.lock:
            rows = self.tables[entity]
            if updated_after:
                # Parse the cursor like the reference service does instead
                # of raw string comparison: a semantically valid but
                # differently formatted cursor (trailing 'Z', fractional
                # seconds) must filter correctly, and garbage must 400
                # (ValueError surfaces as 400 in the handler), never
                # silently mis-filter.
                cutoff = _parse_iso(updated_after)
                rows = [
                    r
                    for r in rows
                    if _parse_iso(r["updated_at"]) > cutoff
                ]
            # stable server-side order: the contract op 4 asserts on
            rows = sorted(rows, key=lambda r: (r["updated_at"], r["id"]))
            return rows[offset : offset + limit], len(rows)


PATHS = {"/ib/receipts": "ib_receipts", "/ob/orders": "ob_orders"}


def make_handler(ds: Dataset):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            parsed = urlparse(self.path)
            if parsed.path == "/health":
                self._send(200, {"status": "ok", "step": ds.step})
                return
            entity = PATHS.get(parsed.path)
            if entity is None:
                self._send(404, {"error": f"unknown path {parsed.path}"})
                return
            q = parse_qs(parsed.query)
            limit = int(q.get("limit", ["500"])[0])
            offset = int(q.get("offset", ["0"])[0])
            after = q.get("updated_after", [None])[0]
            try:
                data, count = ds.page(entity, limit, offset, after)
            except ValueError as exc:
                self._send(400, {"error": f"bad updated_after: {exc}"})
                return
            self._send(200, {"data": data, "meta": {"count": count}})

        def do_POST(self):
            if urlparse(self.path).path == "/advance":
                self._send(200, ds.advance())
            else:
                self._send(404, {"error": "unknown path"})

        def log_message(self, *a):  # quiet
            pass

    return Handler


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--host", default="0.0.0.0")
    p.add_argument("--port", type=int, default=8000)
    p.add_argument("--rows", type=int, default=2000)
    args = p.parse_args()
    ds = Dataset(args.rows)
    server = ThreadingHTTPServer((args.host, args.port), make_handler(ds))
    print(f"mock WMS API on {args.host}:{args.port} ({args.rows} rows/entity)")
    server.serve_forever()


if __name__ == "__main__":
    main()
