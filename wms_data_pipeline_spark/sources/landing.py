"""Landing-zone writer/reader (SURVEY §2.1 ops 13-14).

Reference: services/extractor/app/writer_landing.py:16-55 (one file per
(entity, run_id) under ``run_id=<id>``, format whitelist, idempotence guard,
atomic tmp→rename) and services/staging/app/reader_landing.py:5-26 (parquet
else CSV, schema contract check, CSV time re-parse).

Spark mapping: the ``run_id=`` dirname is already Hive-style partitioning, so
Spark discovers and prunes it natively; ``mode("error")`` replaces the
exists-guard; the output-commit protocol replaces tmp→rename. Empty batches
still publish an empty (schema-bearing) file set — reference
writer_landing.py:44-46 pins that.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FORMATS = ("parquet", "csv", "orc")  # whitelist (reference writer_landing.py:20-23 ships parquet/csv; ORC is the columnar alternative Spark bundles natively)

#: Landing schema contract (reference reader_landing.py:17-20).
CONTRACT_COLS = ("id", "updated_at", "_run_id", "_extracted_at")

#: Time columns that must be re-parsed after a CSV round-trip
#: (reference reader_landing.py:21-24).
CSV_TIME_COLS = ("updated_at", "_extracted_at", "_watermark_effective")


#: Written into a landed batch's dir once staging merged and logged it;
#: Spark's readers skip ``_`` names.
STAGED_MARKER = "_STAGED"


def landing_path(landing_root: str, entity: str, run_id: str) -> str:
    return os.path.join(landing_root, entity, f"run_id={run_id}")


def mark_staged(landing_root: str, entity: str, run_id: str) -> None:
    open(os.path.join(landing_path(landing_root, entity, run_id), STAGED_MARKER), "w").close()


def is_unstaged(landing_root: str, entity: str, run_id: str) -> bool:
    """A batch of (entity, run_id) landed and staging never finished it:
    two stats, no listing."""
    path = landing_path(landing_root, entity, run_id)
    return os.path.isdir(path) and not os.path.exists(os.path.join(path, STAGED_MARKER))


def write_landing(
    df: DataFrame,
    landing_root: str,
    entity: str,
    run_id: str,
    output_format: str = "parquet",
) -> str:
    """Op 13. Raises on unknown format and on re-write of the same
    (entity, run_id) — idempotence guard (reference writer_landing.py:38-39).
    """
    if output_format not in FORMATS:
        raise ValueError(f"unsupported landing format: {output_format!r} (use one of {FORMATS})")
    path = landing_path(landing_root, entity, run_id)
    writer = df.write.mode("error")
    if output_format == "parquet":
        writer.parquet(path)
    elif output_format == "orc":
        writer.orc(path)
    else:
        writer.option("header", True).csv(path)
    return path


def read_landing(
    spark: SparkSession,
    landing_root: str,
    entity: str,
    run_id: str,
    contract: tuple[str, ...] = CONTRACT_COLS,
) -> DataFrame:
    """Op 14: parquet if present, else CSV; verify the schema contract;
    re-coerce time columns after CSV (header inference yields strings)."""
    path = landing_path(landing_root, entity, run_id)
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    has_parquet = any(f.endswith(".parquet") for f in os.listdir(path))
    has_orc = any(f.endswith(".orc") for f in os.listdir(path))
    if has_parquet:
        df = spark.read.parquet(path)
    elif has_orc:
        df = spark.read.orc(path)
    else:
        df = spark.read.option("header", True).option("inferSchema", True).csv(path)
        for c in CSV_TIME_COLS:
            if c in df.columns:
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        if "id" in df.columns:
            df = df.withColumn("id", F.col("id").cast("string"))
    missing = [c for c in contract if c not in df.columns]
    if missing:
        raise ValueError(f"landing data at {path} missing contract columns: {missing}")
    return df


def read_landing_all_runs(spark: SparkSession, landing_root: str, entity: str) -> DataFrame:
    """Scan every run of an entity — ``run_id`` surfaces as a partition
    column; a filter on it prunes directories (verify: PartitionFilters in
    ``.explain``).

    ``mergeSchema`` carries the reference's schema-drift story
    (SURVEY §1.3: new API fields flow through without DDL): a column that
    appears in a later run unions in, null for earlier runs."""
    return (
        spark.read.option("basePath", os.path.join(landing_root, entity))
        .option("mergeSchema", True)
        .parquet(os.path.join(landing_root, entity))
    )


def compact_dataset(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_within_by: list | None = None,
) -> dict:
    """Small-files compaction: rewrite a parquet dataset into
    size-targeted files (ceil(total_bytes / target)) and atomically swap
    it into place. THE recurring operational task of any long-running
    landing/history zone — the r6 measurements showed a
    partitionBy-without-repartition write producing 10x-slower readers;
    this is the repair tool (and ``repartition-before-partitionBy`` the
    prevention).

    Swap protocol: write to ``<path>.__compact_tmp``, verify row count
    equality, rename old -> ``.__compact_trash``, tmp -> path, VERIFY
    the swapped-in dataset (schema + row count re-read from ``path``),
    and only then delete trash. If the second rename fails the original
    is rolled back from trash, so no crash window leaves ``path``
    missing; if post-swap verification fails the new data is set aside
    and the original is restored. A hard crash (kill -9) between the
    two renames leaves ``<path>.__compact_trash`` intact — recovery is
    ``mv <path>.__compact_trash <path>`` (nothing is deleted until the
    new dataset has been re-read successfully). On a POSIX filesystem
    the renames are atomic; on object stores rename is copy+delete, so
    production there uses a table format's transactional rewrite (Delta
    OPTIMIZE / Iceberg rewrite) — same dataflow, different commit.
    Readers racing the swap on plain parquet may glimpse the trash
    window; this tool is for maintenance windows, which is how
    plain-parquet compaction is actually run.

    ``sort_within_by`` optionally re-sorts rows inside each output file
    (e.g. a zorder key via ``relational.zorder_key``) so compaction
    doubles as a clustering pass. Returns {files_before, files_after,
    bytes, rows}."""
    import shutil

    files = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(path)
        for f in fn
        if f.endswith(".parquet")
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    rows_before = df.count()
    tmp = path.rstrip("/") + ".__compact_tmp"
    trash = path.rstrip("/") + ".__compact_trash"
    shutil.rmtree(tmp, ignore_errors=True)
    out = df.repartition(int(n_out))
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(tmp)
    rows_after = spark.read.parquet(tmp).count()
    if rows_after != rows_before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compact_dataset: rewrite row count {rows_after} != "
            f"{rows_before}; aborting before swap"
        )
    schema_before = df.schema
    shutil.rmtree(trash, ignore_errors=True)
    os.rename(path, trash)
    try:
        os.rename(tmp, path)
    except BaseException:
        # roll the original back so a failed second rename never leaves
        # the dataset path missing
        os.rename(trash, path)
        raise
    # keep the trash copy until the swapped-in dataset verifies: a
    # fresh read must see the same schema and row count
    try:
        swapped = spark.read.parquet(path)
        ok = (
            swapped.schema == schema_before
            and swapped.count() == rows_before
        )
    except Exception:
        ok = False
    if not ok:
        bad = path.rstrip("/") + ".__compact_bad"
        shutil.rmtree(bad, ignore_errors=True)
        os.rename(path, bad)
        os.rename(trash, path)
        raise RuntimeError(
            "compact_dataset: post-swap verification failed (schema or "
            f"row count mismatch on re-read); original restored, new "
            f"data set aside at {bad}"
        )
    shutil.rmtree(trash)
    n_after = sum(
        1
        for dp, _dn, fn in os.walk(path)
        for f in fn
        if f.endswith(".parquet")
    )
    return {
        "files_before": len(files),
        "files_after": n_after,
        "bytes": int(total_bytes),
        "rows": int(rows_before),
    }
