"""Bucket-partitioned merge table — the scale path for ops 19-20.

``ParquetTable`` (merge.py) rewrites the whole table per merge: correct and
cheap for latest-state/control tables, wrong for a 100 TB history. This
sink partitions the table by a stable hash bucket of the business key
(``pmod(hash(id), n_buckets)`` → ``b=<k>`` directories) and makes each
bucket directory a ``ParquetTable`` of its own (``v=<n>/`` + ``_VERSION``),
so a merge:

1. computes the bucket set present in the incoming batch (tiny agg);
2. runs the bucket's ``ParquetTable`` merge on that bucket's slice of the
   batch — which reads, merges, counts and atomically publishes ONLY that
   bucket, under the one pointer protocol and crash guards of ``merge.py``.

Untouched buckets are never read or written — merge cost scales with batch
size, not table size. This is the same contract a Delta/Iceberg MERGE with
file pruning provides; here it's built from plain parquet so the engine
stays dependency-free. Single-writer discipline, like the reference.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wms_data_pipeline_spark import fsio

from wms_data_pipeline_spark.operators.merge import (
    HISTORY_KEY,
    LATEST_KEY,
    ParquetTable,
    _single_key_column,
)

BUCKET_COL = "__bucket"


class PartitionedMergeTable:
    def __init__(self, spark: SparkSession, root: str, key: str = LATEST_KEY,
                 n_buckets: int = 64):
        self.spark = spark
        self.root = root
        self.key = key
        self.n_buckets = n_buckets
        self._buckets: dict[int, ParquetTable] = {}

    def bucket(self, b: int) -> ParquetTable:
        """The ``b=<k>`` directory as the ParquetTable that owns its
        versions."""
        if b not in self._buckets:
            self._buckets[b] = ParquetTable(self.spark, fsio.join(self.root, f"b={b}"))
        return self._buckets[b]

    def _by_bucket(self, df: DataFrame):
        """``(bucket, df's rows in it)`` for every bucket ``df`` touches. The
        bucketed frame is pinned once (lazily) because the bucket probe and
        every per-bucket merge each read it."""
        df_b = df.withColumn(
            BUCKET_COL, F.pmod(F.hash(F.col(self.key)), F.lit(self.n_buckets))
        ).localCheckpoint(eager=False)
        buckets = sorted(r[0] for r in df_b.select(BUCKET_COL).distinct().collect())
        return [(b, df_b.filter(F.col(BUCKET_COL) == b)) for b in buckets]

    def read_all(self) -> DataFrame | None:
        paths = []
        for b in range(self.n_buckets):
            t = self.bucket(b)
            v = t.current_version()
            if v is not None:
                paths.append(t._version_path(v))
        if not paths:
            return None
        return self.spark.read.parquet(*paths).drop(BUCKET_COL)

    # -- merge API ----------------------------------------------------------
    def delete_keys(self, keys: DataFrame) -> int:
        """Targeted deletion (dataset redaction) with BUCKET PRUNING: the
        deletion key set maps to its hash buckets, and ONLY those buckets
        run ``ParquetTable.delete_keys`` — cost scales with the deletion
        set, never table size (the same file-pruned shape as a Delta
        DELETE). Returns the deleted count."""
        kdf = keys.select(F.col(_single_key_column(keys, self.key)).alias(self.key))
        return sum(
            self.bucket(b).delete_keys(part.select(self.key), key=self.key)
            for b, part in self._by_bucket(kdf)
        )

    def upsert_latest(self, batch: DataFrame, ts_col: str = "updated_at") -> int:
        """Op 20 at scale: newer-wins upsert touching only the batch's
        buckets. Returns affected-row count."""
        return sum(
            self.bucket(b).upsert_latest(part, key=self.key, ts_col=ts_col)
            for b, part in self._by_bucket(batch)
        )

    def append_history(self, batch: DataFrame, key: Sequence[str] = HISTORY_KEY) -> int:
        """Op 19 at scale: append-dedup touching only the batch's buckets."""
        return sum(
            self.bucket(b).append_history(part, key=key)
            for b, part in self._by_bucket(batch)
        )
