"""In-process upstream stub for the ELT workloads.

Serves the two WMS entities through the ``getter`` hook of
``wms_data_pipeline_spark.sources.rest.fetch_all``: no sockets, no threads.
The envelope and paging contract are those the REST source expects —
``{"data": [...], "meta": {"count": n}}``, ``updated_after`` strictly
greater, stable ``(updated_at, id)`` order, limit/offset pages.

Everything derives from the workload seed. Each ``tick`` mutates distinct
rows and stamps them strictly past the current maximum ``updated_at`` of
the entity, so a watermark reader always sees exactly the tick. (The
standalone mock server stamps ``EPOCH + 1 day + step`` minutes instead,
which lands below the watermark once a dataset spans more than a day of
row timestamps; see NOTES.md.)
"""

from __future__ import annotations

import bisect
import random
from datetime import datetime, timedelta, timezone

IB_FLOW = ["NEW", "PROCESSING", "FINISHED"]
OB_FLOW = ["NEW", "READYTOPICK", "PICKING", "PICKED", "PACKING", "PACKED"]
CANCELLED = "CANCELLED"
CANCEL_PROB = 0.05
EPOCH = datetime(2025, 6, 1, tzinfo=timezone.utc)
PATH_ENTITY = {"/ib/receipts": "ib_receipts", "/ob/orders": "ob_orders"}


def iso(ts: int) -> str:
    """Epoch seconds -> the API's ISO-8601 UTC string."""
    return (EPOCH + timedelta(seconds=ts)).strftime("%Y-%m-%dT%H:%M:%S+00:00")


def parse_iso(value: str) -> int:
    """ISO-8601 string (any offset) -> epoch seconds relative to EPOCH."""
    dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int((dt - EPOCH).total_seconds())


class EntityStore:
    """One entity's rows, kept ordered by ``(updated_at, id)``."""

    def __init__(self, entity: str, n_rows: int, rng: random.Random):
        self.entity = entity
        self.flow = IB_FLOW if entity == "ib_receipts" else OB_FLOW
        self.rng = rng
        self.clock = 0
        self.rows: dict[str, dict] = {}
        self.ts: dict[str, int] = {}
        for i in range(n_rows):
            self.clock += rng.randint(1, 30)
            row = self._new_row(i, self.clock)
            self.rows[row["id"]] = row
            self.ts[row["id"]] = self.clock
        self.order = sorted(self.rows, key=lambda k: (self.ts[k], k))
        self.keys = [self.ts[k] for k in self.order]
        # every (id, updated_at, status) version ever served
        self.versions = {self.version(k) for k in self.rows}

    def version(self, key: str) -> tuple[str, int, str]:
        return key, self.ts[key], self.rows[key]["status"]

    def _new_row(self, i: int, ts: int) -> dict:
        rng = self.rng
        stamp = iso(ts)
        user = f"user-{rng.randrange(12)}"
        if self.entity == "ib_receipts":
            return {
                "id": f"rcpt-{i:07d}",
                "po_code": f"PO-{rng.randrange(10**6):06d}",
                "po_date": iso(ts - 86400),
                "status": IB_FLOW[0],
                "note": None,
                "processed_by": user,
                "contact_name": f"contact-{rng.randrange(40)}",
                "contact_phone": f"+84-{rng.randrange(10**9):09d}",
                "client_id": 100 + rng.randrange(4),
                "warehouse_id": rng.randrange(5),
                "created_by": user,
                "created_at": stamp,
                "updated_by": user,
                "updated_at": stamp,
                "finished_at": None,
                "lines": [
                    {
                        "line_id": f"rl-{i:07d}-{j}",
                        "product_id": rng.randrange(997),
                        "sku": f"sku-{rng.randrange(997)}",
                        "qty_unit_id": 1 + rng.randrange(3),
                        "expected_qty": 1 + rng.randrange(9),
                        "actual_qty": 0,
                    }
                    for j in range(1 + rng.randrange(3))
                ],
            }
        return {
            "id": f"ord-{i:07d}",
            "so_code": f"SO-{rng.randrange(10**6):06d}",
            "expected_delivery_date": iso(ts + 172800),
            "actual_delivery_date": None,
            "customer_id": 1000 + rng.randrange(50),
            "shipping_address_id": 5000 + rng.randrange(80),
            "total_amount": round(10.0 + rng.randrange(100) * 1.5, 2),
            "actual_amount": None,
            "note": None,
            "client_id": 100 + rng.randrange(4),
            "warehouse_id": rng.randrange(5),
            "status": OB_FLOW[0],
            "total_cod_amount": 0.0,
            "total_weight": round(0.5 + rng.randrange(20) * 0.25, 2),
            "total_volume": round(0.01 + rng.randrange(10) * 0.002, 3),
            "created_by": user,
            "created_at": stamp,
            "updated_by": user,
            "updated_at": stamp,
            "lines": [
                {
                    "line_id": f"ol-{i:07d}-{j}",
                    "product_id": rng.randrange(997),
                    "sku": f"sku-{rng.randrange(997)}",
                    "qty": 1 + rng.randrange(5),
                }
                for j in range(1 + rng.randrange(2))
            ],
        }

    def tick(self, n: int) -> int:
        """Mutate ``n`` distinct rows: a live row steps along its status
        machine (or is cancelled), a terminal row gets an edited note. Each
        mutation is stamped strictly past the current maximum."""
        chosen = self.rng.sample(self.order, n)
        for key in chosen:
            row = self.rows[key]
            self.clock += self.rng.randint(1, 30)
            stamp = iso(self.clock)
            status = row["status"]
            if status in (self.flow[-1], CANCELLED):
                row["note"] = f"edit@{stamp}"
            elif self.rng.random() < CANCEL_PROB:
                row["status"] = CANCELLED
            else:
                row["status"] = self.flow[self.flow.index(status) + 1]
                if row["status"] == self.flow[-1] and "finished_at" in row:
                    row["finished_at"] = stamp
            row["updated_at"] = stamp
            row["updated_by"] = "cdc"
            self.ts[key] = self.clock
            self.versions.add(self.version(key))
        moved = set(chosen)
        self.order = [k for k in self.order if k not in moved]
        self.order += sorted(chosen, key=lambda k: self.ts[k])
        self.keys = [self.ts[k] for k in self.order]
        return n

    def page(self, limit: int, offset: int, updated_after: str | None) -> tuple[list[dict], int]:
        start = 0 if updated_after is None else bisect.bisect_right(
            self.keys, parse_iso(updated_after)
        )
        lo = start + offset
        return [self.rows[k] for k in self.order[lo : lo + limit]], len(self.order) - start

    def state(self) -> dict[str, tuple[str, int]]:
        """Current ``id -> (status, updated_at epoch seconds)``."""
        return {k: (r["status"], self.ts[k]) for k, r in self.rows.items()}


class UpstreamStub:
    """The served entities; ``get`` is the REST source's injectable
    getter."""

    def __init__(self, entities: tuple[str, ...], n_rows: int, seed: int):
        rng = random.Random(seed)
        self.entities = {
            e: EntityStore(e, n_rows, random.Random(rng.getrandbits(64))) for e in entities
        }
        self.calls = 0

    def tick(self, n: int) -> int:
        return sum(store.tick(n) for store in self.entities.values())

    def get(self, url: str, params: dict | None = None) -> dict:
        self.calls += 1
        params = params or {}
        path = url[url.index("/", url.index("//") + 2):]
        store = self.entities[PATH_ENTITY[path]]
        data, count = store.page(
            int(params.get("limit", 500)), int(params.get("offset", 0)),
            params.get("updated_after"),
        )
        return {"data": data, "meta": {"count": count}}
