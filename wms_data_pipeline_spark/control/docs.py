"""Driver-written control documents: one small JSON file per key.

The control state (watermarks, run log) is a few rows that change once
per entity-cycle. As ``ParquetTable``s every read of it was a Spark job and
every write a read-merge-rewrite of the whole table: 14 jobs per
entity-cycle, the same on an idle cycle. Structured Streaming keeps its
offset and commit logs as small files that the driver writes with no job;
this module does the same through ``fsio.TableFS``:

- one document per key, ``<root>/<escaped key>.json``, one JSON object;
- ``put`` is tmp write + rename (``write_text_atomic``): a crash before the
  rename leaves the previous document, and the stray ``.tmp`` is never read.
  Documents are only ever written whole, so a document that is not one JSON
  object is corruption and raises on read rather than reading as absent;
- reads go through ``read_text_committed``, so a document caught inside
  the HDFS rename fallback serves its ``.old`` copy.

``read()`` assembles the documents into a DataFrame of the table's schema,
for readers; it costs one small-file read per document and is never on the
cycle path.

LEGACY LAYOUT: a root written as a ``ParquetTable`` (``v=<n>/`` data plus a
``_VERSION`` pointer or ``_commits/`` markers) is migrated on the first
touch of each ``DocTable``. Detecting it probes the legacy commit-record
names only, a fixed number of ``exists`` calls per instance. Migrating is
one Spark read and one document per row; only then are the legacy entries
deleted, commit record before data, and nothing else under the root is
touched. A crash before the commit record is gone re-runs the migration,
which rewrites the same documents; a crash after it can leave ``v=<n>``
data directories behind, which nothing reads.
"""

from __future__ import annotations

import json
import string
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from wms_data_pipeline_spark import fsio
from wms_data_pipeline_spark.operators.merge import ParquetTable, _dir_version

_SUFFIX = ".json"
_PLAIN = frozenset(string.ascii_letters + string.digits + "-_")
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
# a legacy root's commit-record entries, in deletion order: a pointer's
# .tmp/.old before the pointer, so a crash never leaves a stale record
_LEGACY = ("_VERSION.tmp", "_VERSION.old", "_VERSION", "_commits")


def utc(ts: datetime) -> datetime:
    """Aware UTC; a naive datetime is taken as UTC."""
    return ts.replace(tzinfo=timezone.utc) if ts.tzinfo is None else ts.astimezone(timezone.utc)


def _escape(value: str) -> str:
    """File-name-safe, injective encoding of one key value: letters,
    digits, ``-`` and ``_`` stay; every other UTF-8 byte becomes ``~xx``.
    ``.`` is always escaped, so it can join the values of a compound key."""
    return "".join(
        ch if ch in _PLAIN else "".join(f"~{b:02x}" for b in ch.encode("utf-8"))
        for ch in value
    )


class DocTable:
    """A keyed set of JSON documents with the columns of ``schema``;
    timestamp columns hold aware UTC datetimes."""

    def __init__(
        self, spark: SparkSession, root: str, schema: StructType, key: "tuple[str, ...]"
    ):
        self.spark = spark
        self.root = root
        self.schema = schema
        self.key = key
        self._fs = fsio.TableFS(spark, root)
        self._ts = {f.name for f in schema.fields if isinstance(f.dataType, TimestampType)}
        self._migrated = False

    def _path(self, *values: str) -> str:
        return fsio.join(self.root, ".".join(_escape(v) for v in values) + _SUFFIX)

    def _path_of(self, doc: dict) -> str:
        return self._path(*(doc[k] for k in self.key))

    def _encode(self, doc: dict) -> str:
        out = {
            c: (utc(doc[c]).isoformat() if c in self._ts and doc[c] is not None else doc[c])
            for c in self.schema.names
        }
        return json.dumps(out, sort_keys=True)

    def _load(self, path: str) -> "dict | None":
        """The document at ``path``, or None when there is none."""
        text = self._fs.read_text_committed(path)
        if text is None:
            return None
        raw = json.loads(text)
        if not isinstance(raw, dict):
            raise ValueError(f"control document {path!r} is not a JSON object: {text[:80]!r}")
        doc = {c: raw.get(c) for c in self.schema.names}
        for c in self._ts:
            if doc[c] is not None:
                doc[c] = datetime.fromisoformat(doc[c])
        return doc

    # -- the cycle path: driver-side file I/O, no Spark job ------------------
    def get(self, *values: str) -> "dict | None":
        self._migrate()
        return self._load(self._path(*values))

    def put(self, doc: dict) -> None:
        """Write (or replace) the document of ``doc``'s key atomically."""
        self._migrate()
        self._fs.write_text_atomic(self._path_of(doc), self._encode(doc))

    # -- readers --------------------------------------------------------------
    def read(self) -> "DataFrame | None":
        """Every document as one DataFrame of ``schema``; None when there
        are none (as ``ParquetTable.read`` of an empty table)."""
        self._migrate()
        names = self._fs.list_names(self.root)
        bases = sorted(
            {n for n in names if n.endswith(_SUFFIX)}
            | {n[: -len(".old")] for n in names if n.endswith(_SUFFIX + ".old")}
        )
        docs = [
            d for n in bases if (d := self._load(fsio.join(self.root, n))) is not None
        ]
        if not docs:
            return None
        return self.spark.createDataFrame(
            [tuple(d[c] for c in self.schema.names) for d in docs], self.schema
        )

    def _migrate(self) -> None:
        """Move a legacy ParquetTable root onto documents (module docstring)."""
        if self._migrated:
            return
        legacy = [n for n in _LEGACY if self._fs.exists(fsio.join(self.root, n))]
        if legacy:
            old = ParquetTable(self.spark, self.root).read()
            if old is not None:
                # epoch micros, so the values do not depend on the session time zone
                rows = old.select(
                    *[F.unix_micros(c).alias(c) if c in self._ts else F.col(c) for c in self.schema.names]
                ).collect()
                for r in rows:
                    doc = r.asDict()
                    for c in self._ts:
                        if doc[c] is not None:
                            doc[c] = _EPOCH + timedelta(microseconds=doc[c])
                    self._fs.write_text_atomic(self._path_of(doc), self._encode(doc))
            data = [n for n in self._fs.list_names(self.root) if _dir_version(n) is not None]
            for n in legacy + data:
                self._fs.delete(fsio.join(self.root, n))
        self._migrated = True
