"""Named query registry: every operator the engine claims, as a
(spark_fn, duckdb_oracle_sql) pair consumed by __spark_entry__.py.

Naming convention: ``wm_*`` = the reference's incremental-ELT algebra
(SURVEY §2.1); ``rel_*`` = relational surface (§2.3); ``dd_*`` = dedup ops;
``sim_*`` = similarity search; ``txt_*`` = text analysis; ``mm_*`` =
multimodal plumbing.

Oracle-parity rules used throughout (see also operators/text.py hex64):
- every computed column aliased identically on both sides;
- double aggregates rounded (2dp money, 4dp averages, 6dp ratios/sims) so
  summation-order ulps can't flip the comparison;
- DuckDB integer SUM/list_sum returns HUGEINT → always ::BIGINT in oracles;
- row_number() is BIGINT in DuckDB, int in Spark → cast Spark side to long;
- session timezone forced to UTC inside each query fn (the driver's session
  may not have it set).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wms_data_pipeline_spark.operators import dedup as dd
from wms_data_pipeline_spark.operators import multimodal as mm
from wms_data_pipeline_spark.operators import relational as rel
from wms_data_pipeline_spark.operators import similarity as sim
from wms_data_pipeline_spark.operators import text as txt
from wms_data_pipeline_spark.operators.incremental import incremental_filter
from wms_data_pipeline_spark.operators.merge import history_merge, latest_merge
from wms_data_pipeline_spark.operators.normalize import dedup_keep_last
from wms_data_pipeline_spark.operators.payload import with_payload_and_hash
from wms_data_pipeline_spark.schemas import load_table, table_rows_hint

# Watermark cut for the events "entity stream" — ~2/3 history, 1/3 batch.
EVENTS_CUT = "2024-01-20 00:00:00"

# The same cut in raw nanoseconds. events.parquet stores TIMESTAMP(NANOS)
# surfaced as a long (schemas.load_table); filtering on the RAW long pushes
# the watermark predicate into the parquet scan (row-group pruning), which
# the post-conversion timestamp column can't do. Strict micros ``ts > cut``
# ≡ ``nanos >= cut_nanos + 1000`` because both engines truncate nanos→micros.
from datetime import datetime as _dt, timezone as _tz

EVENTS_CUT_NANOS = int(
    _dt.fromisoformat(EVENTS_CUT).replace(tzinfo=_tz.utc).timestamp()
) * 1_000_000_000


def _events_after_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events rows strictly after EVENTS_CUT, with the predicate pushed to
    the scan (verify: PushedFilters [GreaterThanOrEqual(ts,…)])."""
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes).get("ts") != "bigint":
        from wms_data_pipeline_spark.operators.incremental import incremental_filter

        return incremental_filter(load_table(spark, sf_dir, "events"), EVENTS_CUT, "ts")
    return raw.filter(F.col("ts") >= F.lit(EVENTS_CUT_NANOS + 1000)).withColumn(
        "ts", F.expr("timestamp_micros(ts div 1000)")
    )


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False  # included in bench.py
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, headline: bool = False, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            # a silent dict overwrite would swap semantics under a name the
            # driver already certified green (nearly happened round 6 with a
            # second evt_retention_cohorts) — fail at import instead
            raise ValueError(f"duplicate registry query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, headline=headline, doc=doc)
        return fn

    return deco


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _utc(spark)
    return load_table(spark, sf_dir, name)


_PROCESS_IDX_CACHE: dict[tuple[str, str, int], str] = {}


def _sf_dir_fingerprint(sf_dir: str) -> int:
    """Max mtime_ns over the sf_dir's parquet payloads: folded into the
    process-cache key so a REGENERATED dataset mid-process invalidates the
    cached index instead of silently serving stale search results
    (ADVICE r7). Directory walk is bounded by the handful of tables."""
    import os

    newest = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    newest = max(newest, os.stat(os.path.join(root, f)).st_mtime_ns)
                except OSError:
                    pass
    return newest


def _cleanup_process_idx_cache() -> None:
    import shutil

    for path in _PROCESS_IDX_CACHE.values():
        shutil.rmtree(path, ignore_errors=True)
    _PROCESS_IDX_CACHE.clear()


def _process_cached_index(kind: str, sf_dir: str, build) -> str:
    """Build-once-per-PROCESS paths for the persisted-index registry
    queries. The first call per (kind, sf_dir) builds into a fresh
    process-unique temp dir — a stale index written by an OLDER code
    version in a previous process can never be read, which a
    deterministic cross-process path could not guarantee; later calls in
    the same process reuse it. Bench consequence (VERDICT r6 #3): the
    warmup rep pays the index build, the measured reps time the
    PROBE/SEARCH leg — the operation a daily pipeline actually repeats
    (the nightly build cost is measured separately in SCALE_NOTES).
    Correctness is unaffected: driver/parity runs build in their own
    process and search the index they just built. Leak bound: one dir
    per process per (kind, sf_dir, data-fingerprint), removed at process
    exit via atexit; the fingerprint (max parquet mtime under sf_dir)
    invalidates the cache if the dataset is regenerated mid-process
    (ADVICE r6 + r7)."""
    import atexit
    import tempfile

    key = (kind, sf_dir, _sf_dir_fingerprint(sf_dir))
    if key not in _PROCESS_IDX_CACHE:
        if not _PROCESS_IDX_CACHE:
            atexit.register(_cleanup_process_idx_cache)
        path = tempfile.mkdtemp(prefix=f"wms_{kind}_idx_")
        build(path)
        _PROCESS_IDX_CACHE[key] = path
    return _PROCESS_IDX_CACHE[key]


# ===========================================================================
# wm_* — the reference's incremental-ELT algebra on the events stream table
# (events.ts ≈ updated_at, events.user_id ≈ id; TESTDATA.md).
# ===========================================================================


@query(
    "wm_incremental_filter",
    f"SELECT event_id, ts, user_id, event_type, value, props FROM events "
    f"WHERE ts > TIMESTAMP '{EVENTS_CUT}'",
    doc="Op 3: strict watermark predicate, pushed to the parquet scan as a "
    "raw-nanos range (reference main.py:227-228).",
)
def wm_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events_after_cut(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query(
    "wm_watermark_advance",
    f"SELECT max(ts) AS new_watermark, count(*) AS rows_in FROM events "
    f"WHERE ts > TIMESTAMP '{EVENTS_CUT}'",
    doc="Ops 22-23 batch side: new watermark = max(updated_at) of the batch "
    "(reference run.py:72-75).",
)
def wm_watermark_advance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_after_cut(spark, sf_dir)
    return ev.agg(
        F.max("ts").alias("new_watermark"), F.count(F.lit(1)).alias("rows_in")
    )


@query(
    "wm_dedup_keep_last",
    "SELECT event_id, ts, user_id, event_type, value, props FROM events "
    "QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1",
    doc="Op 12: keyed keep-last dedup via one windowed shuffle "
    "(reference normalize.py:64-65).",
)
def wm_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return dedup_keep_last(
        ev, keys=("user_id", "ts"), arrival_col=None, tiebreak_cols=("event_id",)
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "wm_latest_state",
    "SELECT event_id, ts, user_id, event_type, value, props FROM events "
    "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1",
    headline=True,
    doc="Op 20: newer-wins latest-state — snapshot(≤cut) merged with "
    "batch(>cut) via latest_merge equals latest-per-key over all "
    "(reference staging_repo.py:62-99).",
)
def wm_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    # latest_merge's ordering (ts desc, existing-side desc, tiebreak desc) is
    # a TOTAL order, so merging the un-collapsed snapshot side directly gives
    # the same per-key winner as collapsing it first — one window pass and
    # one shuffle instead of two (max is associative under a total order).
    # The production pipeline's existing side is already one-row-per-key;
    # here the snapshot is fabricated from raw history, so pre-collapsing it
    # would only add a second exchange.
    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    old = ev.filter(F.col("ts") <= F.lit(EVENTS_CUT).cast("timestamp")).select(cols)
    new = ev.filter(F.col("ts") > F.lit(EVENTS_CUT).cast("timestamp")).select(cols)
    return latest_merge(old, new, key="user_id", ts_col="ts", tiebreak_col="event_id")


@query(
    "wm_history_dedup",
    "SELECT DISTINCT event_id, ts, user_id, event_type, value, props FROM "
    "(SELECT * FROM events UNION ALL SELECT * FROM events)",
    headline=True,
    doc="Op 19: history append with (id, updated_at, payload_hash) dedup — "
    "a redelivered batch (lookback overlap) collapses to one copy "
    "(reference staging_repo.py:25-58).",
)
def wm_history_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    redelivered = ev.unionByName(ev)
    hashed = with_payload_and_hash(redelivered)
    _, history = history_merge(None, hashed, key=("event_id", "ts", "payload_hash"))
    return history.select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "wm_payload_hash",
    "SELECT event_id, "
    "'{\"event_id\":' || event_id || ',\"event_type\":\"' || event_type || "
    "'\",\"user_id\":' || user_id || '}' AS payload, "
    "sha256('{\"event_id\":' || event_id || ',\"event_type\":\"' || event_type || "
    "'\",\"user_id\":' || user_id || '}') AS payload_hash "
    "FROM events",
    doc="Ops 15-18: canonical JSON (sorted keys, compact, non-ASCII "
    "preserved) + SHA-256 — whole-stage-codegen to_json/sha2 replaces the "
    "reference's row-wise df.apply (payload.py:14-26).",
)
def wm_payload_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    return with_payload_and_hash(ev).select("event_id", "payload", "payload_hash")


@query(
    "wm_normalize_time_parse",
    "SELECT event_id, "
    "CAST(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS TIMESTAMP) AS parsed_at, "
    "TRY_CAST('not a timestamp' AS TIMESTAMP) AS bad_at "
    "FROM events",
    doc="Op 7: suffix-convention time parsing with coerce-to-null on "
    "malformed input (reference normalize.py:11-18).",
)
def wm_normalize_time_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("raw_at"),
        F.lit("not a timestamp").alias("bad_raw_at"),
    )
    return ev.select(
        "event_id",
        F.try_to_timestamp(F.col("raw_at")).alias("parsed_at"),
        F.col("bad_raw_at").try_cast("timestamp").alias("bad_at"),
    )


@query(
    "wm_lineage_columns",
    "SELECT event_id, 'run-0001' AS _run_id, "
    "TIMESTAMP '2026-01-30 00:00:00' AS _extracted_at, "
    f"TIMESTAMP '{EVENTS_CUT}' AS _watermark_effective FROM events",
    doc="Op 11: constant lineage metadata columns (reference normalize.py:60-62).",
)
def wm_lineage_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id")
    return (
        ev.withColumn("_run_id", F.lit("run-0001"))
        .withColumn("_extracted_at", F.lit("2026-01-30 00:00:00").cast("timestamp"))
        .withColumn("_watermark_effective", F.lit(EVENTS_CUT).cast("timestamp"))
    )


@query(
    "wm_effective_watermark",
    "SELECT max(ts) AS saved_watermark, "
    "max(ts) - INTERVAL 120 SECOND AS effective_watermark FROM events",
    doc="Op 22 + §2.2 lookback: effective watermark = saved − "
    "LOOKBACK_SECONDS (reference run.py:26-27, config.py:39 default 120 s).",
)
def wm_effective_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.max("ts").alias("saved_watermark"),
        (F.max("ts") - F.expr("INTERVAL 120 SECOND")).alias("effective_watermark"),
    )


# ===========================================================================
# rel_* — relational surface (§2.3) on the TPC-H-ish star schema.
# ===========================================================================


@query(
    "rel_right_join",
    "SELECT o.o_orderkey, o.o_custkey, c.c_name FROM customer c "
    "RIGHT JOIN orders o ON c.c_custkey = o.o_custkey "
    "WHERE o.o_totalprice > 400000",
    doc="Right outer join (planner mirrors to left-outer with sides swapped).",
)
def rel_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "right_outer").select(
        "o_orderkey", "o_custkey", "c_name"
    )


@query(
    "rel_null_funcs",
    "SELECT c_custkey, coalesce(c_name, 'unknown') AS name_or_default, "
    "nullif(c_mktsegment, 'BUILDING') AS seg_nullified, "
    "CASE WHEN c_acctbal IS NULL THEN 'missing' ELSE 'present' END AS bal_presence "
    "FROM customer",
    doc="Null-handling scalar functions: coalesce / nullif / IS NULL.",
)
def rel_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.col("c_name"), F.lit("unknown")).alias("name_or_default"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nullified"),
        F.when(F.col("c_acctbal").isNull(), "missing").otherwise("present").alias(
            "bal_presence"
        ),
    )


@query(
    "rel_case_banding",
    "SELECT CASE WHEN o_totalprice < 100000 THEN 'small' "
    "WHEN o_totalprice < 300000 THEN 'medium' ELSE 'large' END AS band, "
    "count(*) AS n, round(sum(o_totalprice), 2) AS total "
    "FROM orders GROUP BY 1",
    doc="CASE WHEN bucketing + aggregate over the derived dimension.",
)
def rel_case_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return o.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "rel_q1_pricing_summary",
    "SELECT l_returnflag, l_linestatus, "
    "round(sum(l_quantity), 2) AS sum_qty, "
    "round(sum(l_extendedprice), 2) AS sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
    "round(avg(l_quantity), 4) AS avg_qty, "
    "round(avg(l_extendedprice), 4) AS avg_price, "
    "round(avg(l_discount), 4) AS avg_disc, "
    "count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
    headline=True,
    doc="TPC-H Q1 shape: scan + partial/final hash agg; filter pushed to "
    "parquet, fully codegen'd.",
)
def rel_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "rel_q3_shipping_priority",
    "SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue, "
    "o.o_orderdate, o.o_orderpriority "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
    "AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00' "
    "GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority "
    "ORDER BY revenue DESC, o_orderkey LIMIT 10",
    # headline retired r11 (bench series break #4): rel_q5 carries the
    # same broadcast-dim-filter + fact-join + agg shape at the same cost
    doc="TPC-H Q3 shape: selective dim filter broadcast into a fact join, "
    "agg, deterministic top-k (TakeOrderedAndProject).",
)
def rel_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    joined = l.join(o, l.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return rel.top_k(
        agg.select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority"),
        10,
        [F.col("revenue").desc(), F.col("o_orderkey")],
    )


@query(
    "rel_q5_region_revenue",
    "SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY n.n_name",
    headline=True,
    doc="TPC-H Q5 shape: 6-way join; dims broadcast, facts shuffle once on "
    "orderkey; AQE reorders/skew-splits at runtime.",
)
def rel_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@query(
    "rel_top_customers",
    "SELECT c.c_custkey, c.c_name, round(sum(o.o_totalprice), 2) AS total_spend, "
    "count(*) AS n_orders FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "GROUP BY c.c_custkey, c.c_name ORDER BY total_spend DESC, c_custkey LIMIT 10",
    doc="Join + agg + deterministic top-k.",
)
def rel_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    agg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return rel.top_k(agg, 10, [F.col("total_spend").desc(), F.col("c_custkey")])


@query(
    "rel_window_rank",
    "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM ("
    "SELECT o_custkey, o_orderkey, o_totalprice, "
    "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
    "FROM orders) WHERE rn <= 3",
    headline=True,
    doc="Window functions: top-3 orders per customer (row_number over one "
    "keyed shuffle).",
)
def rel_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "rel_window_running",
    "SELECT event_id, user_id, ts, "
    "round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta_value, "
    "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value "
    "FROM events",
    doc="lag + running sum over an event-time window.",
)
def rel_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_value"),
        F.round(F.sum("value").over(wsum), 2).alias("running_value"),
    )


@query(
    "rel_price_vs_group_avg",
    "SELECT o_orderkey, o_orderstatus, "
    "round(o_totalprice - avg(o_totalprice) OVER (PARTITION BY o_orderstatus), 2) "
    "AS price_vs_status_avg FROM orders",
    doc="Analytic-vs-group comparison: row value against its partition "
    "average in one window pass (no self-join).",
)
def rel_price_vs_group_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") - F.avg("o_totalprice").over(w), 2).alias(
            "price_vs_status_avg"
        ),
    )


@query(
    "rel_daily_active_users",
    "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
    "count(DISTINCT user_id) AS active_users, count(*) AS n_events "
    "FROM events GROUP BY 1",
    doc="Daily active users: event-time truncation + distinct count — the "
    "canonical activity rollup.",
)
def rel_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.countDistinct("user_id").alias("active_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "rel_rollup_agg",
    "SELECT l_returnflag, l_linestatus, count(*) AS n_items, "
    "round(sum(l_quantity), 2) AS sum_qty "
    "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
    doc="Grouping sets: ROLLUP hierarchy totals.",
)
def rel_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


@query(
    "rel_cube_agg",
    "SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders, "
    "round(sum(o_totalprice), 2) AS sum_price "
    "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)",
    doc="Grouping sets: CUBE over two dimensions.",
)
def rel_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "rel_distinct_agg",
    "SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, "
    "count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows "
    "FROM lineitem GROUP BY l_returnflag",
    doc="Exact multi-distinct aggregation (expand + two-phase agg).",
)
def rel_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "rel_semi_join",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer c WHERE EXISTS ("
    "SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00' "
    "AND o.o_orderdate < TIMESTAMP '2000-01-01 00:00:00')",
    doc="Left-semi join (EXISTS).",
)
def rel_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "rel_anti_join",
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS ("
    "SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')",
    doc="Left-anti join (NOT EXISTS) — customers with no early orders "
    "(unqualified no-orders is empty in this data; a non-trivial result "
    "set exercises the join, not just the empty path).",
)
def rel_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "rel_set_ops",
    "(SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996 "
    "INTERSECT SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997) "
    "EXCEPT SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998",
    doc="Set operations: INTERSECT + EXCEPT (distinct semantics).",
)
def rel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return o.filter(F.year("o_orderdate") == y).select("o_custkey").distinct()

    return year_keys(1996).intersect(year_keys(1997)).subtract(year_keys(1998))


@query(
    "rel_topk_lineitems",
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
    "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20",
    doc="Global top-k: per-partition heap + single reduce, no global sort.",
)
def rel_topk_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    return rel.top_k(
        li, 20, [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")]
    )


@query(
    "rel_json_extract",
    "SELECT event_type, count(*) AS n, "
    "round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k "
    "FROM events GROUP BY event_type",
    doc="JSON path over the payload column — the schema-on-read query "
    "pattern for the reference's payload jsonb (init_dw.sql:34).",
)
def rel_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg(k), 4).alias("avg_k")
    )


@query(
    "rel_asof_join",
    "SELECT event_id, ts, user_id, prior_event_id, asof_ts FROM ("
    "SELECT l.event_id, l.ts, l.user_id, r.event_id AS prior_event_id, r.ts AS asof_ts, "
    "row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts DESC) AS rn "
    "FROM (SELECT * FROM events WHERE event_id % 10 = 0) l "
    "LEFT JOIN (SELECT * FROM events WHERE event_id % 10 <> 0) r "
    "ON l.user_id = r.user_id AND r.ts <= l.ts) WHERE rn = 1",
    doc="As-of join (DuckDB ASOF JOIN equivalent): for each probe event, the "
    "most recent other event of the same user at-or-before its timestamp. "
    "Spark impl: keyed equi-join + range predicate + one window pass "
    "(operators/relational.py — set a tolerance at scale).",
)
def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_id") % 10 == 0).select("event_id", "ts", "user_id")
    others = ev.filter(F.col("event_id") % 10 != 0).select(
        "user_id", "ts", F.col("event_id").alias("prior_event_id")
    )
    out = rel.asof_join(
        probes,
        others,
        left_on="user_id",
        right_on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["prior_event_id"],
        left_unique=["event_id"],
    )
    return out.select("event_id", "ts", "user_id", "prior_event_id", "asof_ts")


@query(
    "rel_asof_join_tolerance",
    "SELECT event_id, ts, user_id, prior_event_id, asof_ts FROM ("
    "SELECT l.event_id, l.ts, l.user_id, r.event_id AS prior_event_id, r.ts AS asof_ts, "
    "row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts DESC) AS rn "
    "FROM (SELECT * FROM events WHERE event_id % 10 = 0) l "
    "LEFT JOIN (SELECT * FROM events WHERE event_id % 10 <> 0) r "
    "ON l.user_id = r.user_id AND r.ts <= l.ts "
    "AND r.ts >= l.ts - INTERVAL 6 HOUR) WHERE rn = 1",
    headline=True,
    doc="As-of join with a tolerance band (6 h): the band bounds the join "
    "fan-out — the REQUIRED form at 100 TB, where an unbounded as-of "
    "multiplies each probe by its full key history (relational.py).",
)
def rel_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_id") % 10 == 0).select("event_id", "ts", "user_id")
    others = ev.filter(F.col("event_id") % 10 != 0).select(
        "user_id", "ts", F.col("event_id").alias("prior_event_id")
    )
    out = rel.asof_join(
        probes,
        others,
        left_on="user_id",
        right_on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["prior_event_id"],
        tolerance="6 HOURS",
        left_unique=["event_id"],
    )
    return out.select("event_id", "ts", "user_id", "prior_event_id", "asof_ts")


@query(
    "rel_sessionize",
    "WITH g AS (SELECT user_id, CASE WHEN ts - lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE "
    "THEN 1 ELSE 0 END AS ns FROM events) "
    "SELECT user_id, CAST(sum(ns) + 1 AS BIGINT) AS n_sessions, "
    "count(*) AS n_events FROM g GROUP BY user_id",
    headline=True,
    doc="Batch sessionization (30-min gap); streaming twin is "
    "session_window (streaming/pipeline.py).",
)
def rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sess = rel.sessionize(ev, key="user_id", ts_col="ts", gap="30 minutes")
    return sess.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "rel_q4_order_priority",
    "SELECT o_orderpriority, count(*) AS order_count FROM orders o "
    "WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' "
    "AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00' "
    "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
    "AND l.l_shipdate > o.o_orderdate) "
    "GROUP BY o_orderpriority",
    doc="TPC-H Q4 shape: correlated EXISTS decorrelated into a left-semi "
    "join by Catalyst.",
)
def rel_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "rel_q13_custdist",
    "SELECT c_count, count(*) AS custdist FROM ("
    "SELECT c.c_custkey, count(o.o_orderkey) AS c_count FROM customer c "
    "LEFT JOIN orders o ON c.c_custkey = o.o_custkey GROUP BY c.c_custkey) "
    "GROUP BY c_count",
    headline=True,
    doc="TPC-H Q13 shape: distribution of customers by order count "
    "(left outer + double aggregation).",
)
def rel_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "rel_q18_large_orders",
    "SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS total, "
    "round(sq.qty, 2) AS total_qty FROM orders o JOIN ("
    "SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem GROUP BY l_orderkey "
    "HAVING sum(l_quantity) > 140) sq ON o.o_orderkey = sq.l_orderkey",
    doc="TPC-H Q18 shape: IN-subquery-with-HAVING expressed as an aggregated "
    "semi-side join.",
)
def rel_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 140)
    )
    return o.join(big, o.o_orderkey == big.l_orderkey).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice"), 2).alias("total"),
        F.round(F.col("qty"), 2).alias("total_qty"),
    )


@query(
    "rel_q22_rich_inactive",
    "SELECT c.c_nationkey, count(*) AS numcust, round(sum(c.c_acctbal), 2) AS totacctbal "
    "FROM customer c WHERE c.c_acctbal > "
    "(SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0) "
    "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') "
    "GROUP BY c.c_nationkey",
    doc="TPC-H Q22 shape: scalar subquery threshold + anti join "
    "(rich customers with no recent orders). The threshold joins in as a "
    "broadcast 1-row aggregate — one job, no driver hop mid-plan (same "
    "pattern as evt_value_winsorize).",
)
def rel_q22_rich_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("__avg_bal"))
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("__avg_bal")
    ).drop("__avg_bal")
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
    inactive = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return inactive.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


@query(
    "rel_sql_q3_via_spark_sql",
    "SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue "
    "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00' "
    "GROUP BY o.o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 5",
    doc="SQL-API parity: the same engine surface driven through spark.sql "
    "over registered views (catalog.py) instead of the DataFrame API.",
)
def rel_sql_q3_via_spark_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.catalog import register_testdata_views

    _utc(spark)
    register_testdata_views(spark, sf_dir)
    return spark.sql(
        "SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue "
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00' "
        "GROUP BY o.o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 5"
    )


@query(
    "rel_full_outer_join",
    "SELECT c.c_custkey, c.c_name, oc.n_orders FROM customer c "
    "FULL JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) oc "
    "ON c.c_custkey = oc.o_custkey",
    doc="Full outer equi-join (unmatched rows preserved on both sides).",
)
def rel_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    oc = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(oc, c.c_custkey == oc.o_custkey, "full_outer").select(
        "c_custkey", "c_name", "n_orders"
    )


@query(
    "rel_pivot_status",
    'SELECT o_orderpriority, count(*) FILTER (WHERE o_orderstatus = \'F\') AS "F", '
    "count(*) FILTER (WHERE o_orderstatus = 'O') AS \"O\", "
    "count(*) FILTER (WHERE o_orderstatus = 'P') AS \"P\" "
    "FROM orders GROUP BY o_orderpriority",
    doc="Pivot (wide conditional aggregation) over the status dimension.",
)
def rel_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"]).count()


@query(
    "rel_having",
    "SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey "
    "HAVING count(*) >= 15",
    doc="Aggregate + HAVING filter.",
)
def rel_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "rel_string_funcs",
    "SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 10) AS name10, "
    "length(p_name) AS name_len, concat_ws('-', p_brand, p_type) AS brand_type "
    "FROM part WHERE p_name LIKE '%e%'",
    doc="Scalar string library: upper/substr/length/concat_ws/LIKE "
    "(whole-stage codegen, no UDFs).",
)
def rel_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_name").like("%e%")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 10).alias("name10"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
    )


@query(
    "rel_date_funcs",
    "SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS order_year, "
    "CAST(month(o_orderdate) AS INTEGER) AS order_month, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start "
    "FROM orders",
    doc="Scalar date/time library: year/month extraction, month truncation.",
)
def rel_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
    )


@query(
    "rel_tumbling_batch",
    "SELECT CAST(to_timestamp(floor(date_part('epoch', ts) / 600) * 600) AS TIMESTAMP) "
    "AS window_start, event_type, count(*) AS n FROM events GROUP BY 1, 2",
    doc="Tumbling event-time windows in batch mode — same window() operator "
    "Structured Streaming uses (streaming/pipeline.py).",
)
def rel_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


@query(
    "rel_sliding_batch",
    "WITH b AS (SELECT event_type, "
    "CAST(to_timestamp(floor(date_part('epoch', ts) / 300) * 300) AS TIMESTAMP) AS b0 "
    "FROM events) "
    "SELECT window_start, event_type, count(*) AS n FROM ("
    "SELECT event_type, unnest([b0, b0 - INTERVAL 5 MINUTE]) AS window_start FROM b) "
    "GROUP BY window_start, event_type",
    doc="Sliding event-time windows (10 min size, 5 min slide) in batch mode "
    "— each event lands in exactly two windows; same window() operator the "
    "streaming path uses.",
)
def rel_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


@query(
    "rel_union_tagged",
    "SELECT nationkey, kind, count(*) AS n FROM ("
    "SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer "
    "UNION ALL SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier) "
    "GROUP BY nationkey, kind",
    doc="unionByName over heterogenous sources + tag column.",
)
def rel_union_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("kind")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("kind")
    )
    return c.unionByName(s).groupBy("nationkey", "kind").agg(F.count(F.lit(1)).alias("n"))


@query(
    "rel_theta_join",
    "SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key, a.s_nationkey AS nationkey "
    "FROM supplier a JOIN supplier b "
    "ON a.s_nationkey = b.s_nationkey AND a.s_acctbal < b.s_acctbal",
    doc="Theta (non-equi range) self-join: equi part shuffles, range part "
    "filters within nation groups.",
)
def rel_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    a = s.select(
        F.col("s_suppkey").alias("a_key"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("a_bal"),
    )
    b = s.select(
        F.col("s_suppkey").alias("b_key"),
        F.col("s_nationkey").alias("b_nat"),
        F.col("s_acctbal").alias("b_bal"),
    )
    return (
        a.join(b, (a.nationkey == b.b_nat) & (a.a_bal < b.b_bal))
        .select("a_key", "b_key", "nationkey")
    )


@query(
    "rel_math_funcs",
    "SELECT l_orderkey, l_linenumber, abs(l_discount - 0.05) AS disc_dev, "
    "CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil, "
    "CAST(floor(l_quantity / 7.0) AS BIGINT) AS qty_floor, "
    "round(sqrt(l_extendedprice), 6) AS price_sqrt, "
    "round(ln(l_extendedprice + 1), 6) AS price_ln, "
    "round(power(1 + l_tax, 2), 6) AS tax_sq "
    "FROM lineitem WHERE l_orderkey < 200",
    doc="Scalar math library: abs/ceil/floor/sqrt/ln/power.",
)
def rel_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7.0).cast("long").alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 7.0).cast("long").alias("qty_floor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow(F.lit(1) + F.col("l_tax"), 2), 6).alias("tax_sq"),
    )


@query(
    "rel_ntile_first_last",
    "SELECT o_orderkey, o_orderstatus, "
    "CAST(ntile(4) OVER w AS INTEGER) AS price_quartile, "
    "first_value(o_orderkey) OVER w AS cheapest_key, "
    "last_value(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key "
    "FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)",
    doc="ntile / first_value / last_value window functions (explicit frame "
    "for last_value — the default frame stops at CURRENT ROW).",
)
def rel_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
    )


@query(
    "txt_deterministic_split",
    "SELECT doc_id, CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 80 "
    "THEN 'train' WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 90 "
    "THEN 'valid' ELSE 'test' END AS split FROM documents",
    doc="Deterministic train/valid/test split by content-stable hash "
    "(80/10/10) — reproducible across runs and engines, unlike rand() "
    "sampling; the assignment is a pure map expression usable as a "
    "partition column.",
)
def txt_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = txt.hex64(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


@query(
    "rel_minmax_greatest",
    "SELECT l_returnflag, min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship, "
    "greatest(round(max(l_discount), 2), round(max(l_tax), 2)) AS max_rate "
    "FROM lineitem GROUP BY l_returnflag",
    doc="min/max/greatest — the reference's full aggregate inventory "
    "(SURVEY §2.1 scalar table).",
)
def rel_minmax_greatest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.greatest(
            F.round(F.max("l_discount"), 2), F.round(F.max("l_tax"), 2)
        ).alias("max_rate"),
    )


@query(
    "rel_approx_distinct",
    "SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts, "
    "count(*) AS n_rows, TRUE AS within_5pct FROM lineitem GROUP BY l_returnflag",
    doc="approx_count_distinct (HyperLogLog++) — the sketch path for 100 TB "
    "distinct counts. The HLL estimate itself differs across engines, so "
    "the checkable output is (exact count, within_5pct): the sketch value "
    "is asserted to sit within 5% of the exact count, and the oracle pins "
    "the exact side. A sketch drifting past 5% flips within_5pct to false "
    "and fails the hash compare.",
)
def rel_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey") - F.countDistinct("l_partkey")
            )
            <= 0.05 * F.countDistinct("l_partkey")
        ).alias("within_5pct"),
    )


# ===========================================================================
# dd_* — dedup operators on documents.
# ===========================================================================

_HEX64_DUCK = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
_SHINGLES_DUCK = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), "
    "j -> toks[j] || ' ' || toks[j + 1] || ' ' || toks[j + 2]))"
)
_TOKS_DUCK = "regexp_extract_all(text, '\\S+')"


_M31 = dd.MERSENNE31


def _minhash_cols_duck(num_perm: int) -> str:
    """mh_p columns from a pre-hashed shingle array ``hs`` — the same
    one-md5 + universal-permutation scheme as dd.with_minhash_signature,
    with identical md5-seeded (a, b) literals."""
    return ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {_M31})) AS mh_{p}"
        for p, (a, b) in enumerate(dd.perm_coeffs(num_perm))
    )


_SH_HASH_DUCK = (
    "list_transform(sh, s -> (" + _HEX64_DUCK.format(x="s") + f") % {_M31})"
)


def _minhash_sig_duck(num_perm: int) -> str:
    return (
        f"WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents), "
        f"s AS (SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM t), "
        f"h_t AS (SELECT doc_id, {_SH_HASH_DUCK} AS hs FROM s) "
        f"SELECT doc_id, {_minhash_cols_duck(num_perm)} FROM h_t"
    )


@query(
    "dd_exact_dedup",
    "SELECT doc_id, sha256(text) AS text_sha256, lang, source FROM documents "
    "QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1",
    headline=True,
    doc="Exact dedup: keep min-id per content hash; one shuffle on the hash.",
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, id_col="doc_id", colname="text").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("text_sha256"), "lang", "source"
    )


# the full-corpus contamination-matrix oracle — shared verbatim by the
# batch query and the index+probe incremental variant (whose contract is
# exactly "reproduce the batch matrix over corpus ∪ delta")
_SOURCE_OVERLAP_DUCK = (
    "WITH sh0 AS (SELECT DISTINCT source, g FROM (SELECT source, "
    "unnest(list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 1)), "
    "j -> toks[j] || ' ' || toks[j + 1] || ' ' || toks[j + 2] || ' ' || toks[j + 3]"
    "))) AS g FROM (SELECT source, regexp_extract_all(text, '\\S+') AS toks "
    "FROM documents) WHERE len(toks) >= 4)), "
    # the df-cut: shingles present in > 256 sources are ubiquitous
    # language, not mirror evidence — and the quadratic fan-out guard
    "keep AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) <= 256), "
    "sh AS (SELECT sh0.source, sh0.g FROM sh0 JOIN keep USING (g)), "
    "tot AS (SELECT source, count(*)::BIGINT AS n FROM sh GROUP BY 1), "
    "p AS (SELECT x.source AS source_a, y.source AS source_b, "
    "count(*)::BIGINT AS n_shared FROM sh x JOIN sh y ON x.g = y.g "
    "AND x.source < y.source GROUP BY 1, 2) "
    "SELECT p.source_a, p.source_b, p.n_shared, "
    "ta.n AS n_shingles_a, tb.n AS n_shingles_b, "
    "round(p.n_shared / least(ta.n, tb.n), 6) AS containment "
    "FROM p JOIN tot ta ON p.source_a = ta.source "
    "JOIN tot tb ON p.source_b = tb.source"
)


@query(
    "dd_source_overlap_matrix",
    _SOURCE_OVERLAP_DUCK,
    doc="Cross-source contamination matrix: for every source pair, the "
    "number of distinct word 4-gram shingles they SHARE plus the "
    "containment ratio (shared / smaller side) — the audit that "
    "identifies mirror sites, syndicated feeds and re-crawled domains "
    "BEFORE doc-level dedup runs (a source pair near containment 1.0 "
    "means one side is redundant wholesale). Plan (node-iterator form, "
    "the r10 wedge lesson — the naive self-join on the shingle key "
    "costs 7 exchanges because the shingle subtree recomputes 3x): "
    "distinct (source, shingle) pairs aggregate ONCE into a sorted "
    "per-shingle source array (materialized via localCheckpoint — the "
    "persist-once story), then pairs emit MAP-SIDE by double "
    "posexplode (i < j over the sorted array; fan-out bounded by "
    "C(sources-with-it, 2), never doc x doc) into one pair-count "
    "aggregate, and totals explode from the same materialized arrays. "
    "2 static + 2 materialization exchanges vs 7. Exact integers plus "
    "one 6-dp rounded ratio. DF-CUT (the 100 TB guard): shingles "
    "present in > 256 sources are dropped BEFORE pair emission — they "
    "are ubiquitous language, not mirror evidence, and at web scale "
    "(10^5 domains) one such shingle would alone emit C(10^5, 2) ~ "
    "5e9 pairs; totals come from the same filtered set so containment "
    "stays self-consistent (the PPJoin-family prefix-filter logic "
    "applied at the source grain). A no-op at the registry's 20 "
    "sources — the oracle carries the same HAVING.",
)
def dd_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    by_sh = (
        docs.select(
            "source", F.explode(dd.shingles_of("text", 4)).alias("g")
        )
        .distinct()
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") <= 256)
        .localCheckpoint()
    )
    pairs = (
        by_sh.select(
            F.posexplode("srcs").alias("_i", "source_a"), F.col("srcs")
        )
        .select(
            "source_a",
            F.explode(
                F.expr("slice(srcs, _i + 2, size(srcs))")
            ).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    tot = (
        by_sh.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ta = F.broadcast(tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_shingles_a")))
    tb = F.broadcast(tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_shingles_b")))
    return (
        pairs.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_shingles_a",
            "n_shingles_b",
            F.round(
                F.col("n_shared")
                / F.least("n_shingles_a", "n_shingles_b"),
                6,
            ).alias("containment"),
        )
    )


@query(
    "dd_source_overlap_incremental",
    _SOURCE_OVERLAP_DUCK,
    doc="Incremental contamination matrix (operators/dedup.py "
    "source_overlap_index_write / source_overlap_probe, VERDICT r11 "
    "#4): the per-shingle sorted source arrays — the matrix's "
    "sufficient statistic — persist once per nightly build (partitioned "
    "by shingle hash bucket, over-df-cut sets stored as NULL since "
    "sources are only ever added); each daily delta shingles ONLY "
    "itself, partition-prunes the index to its own buckets, emits "
    "per-shingle pair DELTAS map-side (old×new + C(new,2) additions; "
    "C(old,2) retractions when the delta pushes a shingle over the "
    "df-cut), and merges them with the stored matrix-sized pair/total "
    "counts. Bit-identical to the batch dd_source_overlap_matrix over "
    "corpus ∪ delta (pinned in test_round12_ops) — here the corpus is "
    "doc_id % 7 != 0 and the delta the rest, so the oracle is the "
    "batch matrix SQL verbatim. The last full-recompute audit becomes "
    "O(delta) + a matrix-sized merge.",
)
def dd_source_overlap_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    path = _process_cached_index(
        "srcovl",
        sf_dir,
        lambda p: dd.source_overlap_index_write(corpus, p),
    )
    return dd.source_overlap_probe(spark, delta, path)


@query(
    "dd_minhash_signature",
    _minhash_sig_duck(dd.DEFAULT_NUM_PERM),
    doc="MinHash signatures over 3-word shingles, computed map-side with "
    "zero shuffle (array_min over a transformed array — no explode). "
    "One md5 per shingle + 16 integer universal-hash permutations "
    "((a*h+b) mod 2^31-1, md5-seeded coefficient literals shared with the "
    "oracle) — 16× fewer md5 evaluations than salting per permutation.",
)
def dd_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sig = dd.with_minhash_signature(docs, "text", dd.DEFAULT_NUM_PERM)
    return sig.select("doc_id", *[f"mh_{p}" for p in range(dd.DEFAULT_NUM_PERM)])


def _neardup_pairs_ctes(src: str, threshold: float, num_perm: int = 16,
                        bands: int = 4) -> str:
    """The MinHash+LSH pair CTE chain of ``_neardup_duck``, parameterized
    on the SOURCE relation so it can verify a pipeline STAGE (near-dup
    over the post-exact-dedup survivors) instead of raw documents.
    Emits CTE fragments ``ndt .. ndpairs`` for embedding in a larger
    WITH chain (SQL has no nested WITH)."""
    rows = num_perm // bands
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, sha256({concat}) AS bhash FROM ndsig".format(
            b=b,
            concat=" || '_' || ".join(
                f"mh_{b * rows + r}::VARCHAR" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return (
        f"ndt AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM {src}), "
        f"ndsh AS (SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM ndt), "
        f"ndh AS (SELECT doc_id, sh, {_SH_HASH_DUCK} AS hs FROM ndsh), "
        f"ndsig AS (SELECT doc_id, sh, {_minhash_cols_duck(num_perm)} FROM ndh), "
        f"ndb AS ({band_rows}), "
        "ndp AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b "
        "FROM ndb a JOIN ndb b2 USING (band, bhash) WHERE a.doc_id < b2.doc_id), "
        "ndpairs AS (SELECT id_a, id_b, jaccard_sim FROM ("
        "SELECT ndp.id_a, ndp.id_b, "
        "round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / "
        "len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE, 6) AS jaccard_sim "
        "FROM ndp JOIN ndsh sa ON sa.doc_id = ndp.id_a "
        "JOIN ndsh sb ON sb.doc_id = ndp.id_b) "
        f"WHERE jaccard_sim >= {threshold})"
    )


def _neardup_duck(threshold: float, num_perm: int = 16, bands: int = 4) -> str:
    """MinHash+LSH near-dup pair SQL over the documents table — a thin
    wrapper over the parameterized CTE chain (_neardup_pairs_ctes), so
    the banding/verify logic exists exactly once in the oracle layer."""
    return (
        "WITH " + _neardup_pairs_ctes("documents", threshold, num_perm, bands)
        + " SELECT id_a, id_b, jaccard_sim FROM ndpairs"
    )


@query(
    "dd_minhash_neardup_pairs",
    _neardup_duck(0.5),
    headline=True,
    doc="MinHash+LSH near-dup pairs (4 bands × 4 rows), Jaccard-verified at "
    "0.5 — the 100 TB dedup path: map-side signatures, shuffle only on band "
    "buckets.",
)
def dd_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.minhash_neardup_pairs(docs, threshold=0.5)


def _components_duck(threshold: float) -> str:
    pairs_sql = _neardup_duck(threshold)
    return (
        f"WITH RECURSIVE pairs AS ({pairs_sql}), "
        "und AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs), "
        "nodes AS (SELECT DISTINCT src AS n FROM und), "
        "cc(n, lbl) AS (SELECT n, n FROM nodes "
        "UNION SELECT u.dst, cc.lbl FROM cc JOIN und u ON u.src = cc.n) "
        "SELECT n AS doc_id, min(lbl) AS component FROM cc GROUP BY n"
    )


@query(
    "dd_neardup_components",
    _components_duck(0.5),
    headline=True,
    doc="Near-dup clusters: connected components over the MinHash+LSH pair "
    "list via iterative min-label propagation (one join+agg per round; "
    "oracle = recursive CTE). Component id = min doc_id — the dedup-group "
    "representative.",
)
def dd_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dd.minhash_neardup_pairs(docs, threshold=0.5)
    return dd.neardup_components(pairs)


def _simhash_duck(bits: int = 16) -> str:
    # hash-once form, mirroring dd.with_simhash: one md5 per token, then
    # per-bit integer majorities over the hashed list
    terms = " + ".join(
        "(CASE WHEN COALESCE(list_sum(list_transform(hs, h -> "
        f"2 * ((h >> {j}) & 1) - 1)), 0) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return (
        f"WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents), "
        "h_t AS (SELECT doc_id, list_transform(toks, t -> "
        + _HEX64_DUCK.format(x="t")
        + ") AS hs FROM t) "
        f"SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM h_t"
    )


@query(
    "dd_simhash",
    _simhash_duck(16),
    doc="16-bit SimHash fingerprint (bitwise token-hash majority), map-side.",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # with_simhash repartitions the small CPU-bound input and hashes each
    # token once behind a fence (md5 per token, not per token×bit)
    return dd.with_simhash(docs, "text", 16).select("doc_id", "simhash")


@query(
    "dd_ngram_jaccard",
    "WITH t AS (SELECT doc_id, list_distinct(list_transform("
    "range(1, greatest(len(regexp_extract_all(text, '\\S+')), 1)), "
    "j -> regexp_extract_all(text, '\\S+')[j] || ' ' || "
    "regexp_extract_all(text, '\\S+')[j + 1])) AS sh "
    "FROM documents WHERE doc_id < 100) "
    "SELECT id_a, id_b, jaccard_sim FROM ("
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "round(len(list_intersect(a.sh, b.sh))::DOUBLE / "
    "len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 6) AS jaccard_sim "
    "FROM t a JOIN t b ON a.doc_id < b.doc_id) WHERE jaccard_sim >= 0.05",
    doc="Exact all-pairs 2-gram Jaccard on a bounded subset (doc_id<100) — "
    "the verifier primitive; unbounded all-pairs is what LSH avoids.",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", dd.shingles_of("text", 2).alias("sh"))
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("jaccard_sim", F.round(dd.jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard_sim") >= 0.05)
        .select("id_a", "id_b", "jaccard_sim")
    )


# ===========================================================================
# sim_* — similarity search on embeddings.
# ===========================================================================

_COS_DUCK = (
    "round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6)"
)


@query(
    "sim_cosine_topk",
    "SELECT query_id, vec_id, cosine_sim FROM ("
    "SELECT query_id, vec_id, cosine_sim, "
    "row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn "
    "FROM (SELECT q.vec_id AS query_id, e.vec_id, "
    + _COS_DUCK
    + " AS cosine_sim "
    "FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q)"
    ") WHERE rn <= 10",
    headline=True,
    doc="Exact brute-force cosine top-10 for 5 query vectors: broadcast "
    "queries × corpus scan, JVM-side zip_with/aggregate arithmetic, "
    "windowed top-k. The verifier baseline for any ANN variant.",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.cosine_topk(emb, queries, k=10)


@query(
    "sim_prefix_rerank_topk",
    "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
    "FROM embeddings WHERE vec_id < 5), "
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "p AS (SELECT query_id, vec_id, round("
    "list_dot_product(pe, pq) / (sqrt(list_dot_product(pe, pe)) * "
    "sqrt(list_dot_product(pq, pq))), 6) AS ps FROM ("
    "SELECT e.vec_id, q.query_id, e.v[1:8] AS pe, q.qv[1:8] AS pq "
    "FROM e CROSS JOIN q)), "
    "s AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, "
    "row_number() OVER (PARTITION BY query_id ORDER BY ps DESC, vec_id) "
    "AS rn FROM p) WHERE rn <= 40), "
    "r AS (SELECT s.query_id, s.vec_id, round("
    "list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * "
    "sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim "
    "FROM s JOIN e USING (vec_id) JOIN q USING (query_id)) "
    "SELECT query_id, vec_id, cosine_sim FROM (SELECT query_id, vec_id, "
    "cosine_sim, row_number() OVER (PARTITION BY query_id "
    "ORDER BY cosine_sim DESC, vec_id) AS rn FROM r) WHERE rn <= 10",
    doc="Matryoshka-style progressive top-k (similarity.py "
    "prefix_rerank_topk; public method — MRL, Kusupati et al. 2022): "
    "coarse cosine over the first 8 dimensions keeps a 40-candidate "
    "shortlist per query, full-dimension exact cosine re-ranks to "
    "top-10. The coarse pass is 8/dim of the FLOPs and — stored as its "
    "own column — 8/dim of the scan bytes via column pruning; full "
    "vectors are fetched for |queries| x 40 rows only, broadcast "
    "map-side. The index-free ANN shape: the model's dimension "
    "ordering IS the index. Both stages rank by (6dp score, id), so "
    "the shortlist membership itself is SQL-reproducible — a full "
    "value-hash oracle on an approximate operator.",
)
def sim_prefix_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.prefix_rerank_topk(
        emb, queries, k=10, prefix_dims=8, shortlist=40
    )


@query(
    "sim_pca_prefix_rerank",
    None,  # rows-only: the dim x dim eigendecomposition at the heart of
    # pca_fit has no SQL expression, so no oracle can reproduce the
    # rotated coordinates. Correctness is carried by test_round13_ops
    # instead: rotation orthonormality, exact inverse reconstruction,
    # and — the load-bearing pin — full-dimension cosine top-k on
    # rotated vectors returning EXACTLY the unrotated top-k (orthogonal
    # invariance), which ties this query's re-rank stage back to the
    # fully oracle-paired cosine_topk semantics.
    doc="PCA-rotated Matryoshka prefix-rerank (operators/similarity.py "
    "pca_fit / pca_rotate + prefix_rerank_topk, VERDICT r12 #5): the "
    "r12 recall curve said generic embeddings need variance "
    "front-loaded before dimension prefixes are usable; this is the "
    "rotation. pca_fit = one distributed moment pass (per-partition "
    "n/Σx/Σxxᵀ via vectorized Arrow batches, driver eigh on the "
    "dim x dim result, deterministic component signs); center=False "
    "diagonalizes the SECOND moment so the map is purely orthogonal — "
    "dot products, norms and therefore full-dim cosine are preserved "
    "EXACTLY, meaning the re-rank stage is unchanged and only the "
    "coarse prefix pass sees the energy-ordered basis. Measured on "
    "sf0.1 embeddings (SCALE_NOTES r13): recall@10 at 8/64 dims "
    "0.28 -> 0.395 rotated, at 32/64 0.775 -> 0.86 — modest because "
    "this corpus is near-isotropic (16% variance in the top 8 dims vs "
    "12.5% floor), with the full lift pinned on an anisotropic cloud "
    "in test_round13_ops (prefix-2 recall 0.9+ after rotation).",
)
def sim_pca_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    model = sim.pca_fit(emb)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.prefix_rerank_topk(
        emb, queries, k=10, prefix_dims=16, shortlist=100, rotate=model,
    )


def _hadamard_sql_literal(dim: int) -> str:
    """DuckDB DOUBLE[][] literal for the normalized Sylvester-Hadamard
    rotation — entries ±1/sqrt(dim), exact for power-of-two dims (0.125
    at dim=64), so the only cross-engine rounding in applying it is the
    dot products' addition order, which the float32 output cast absorbs
    (measured bitwise-identical on every test corpus)."""
    r = sim.hadamard_model(dim)["rotation"]
    mag = repr(abs(r[0][0]))
    return (
        "["
        + ",".join(
            "[" + ",".join((mag if x > 0 else "-" + mag) for x in row) + "]"
            for row in r
        )
        + "]"
    )


@query(
    "sim_rotated_prefix_rerank",
    # FULL value-hash oracle for the ROTATION KERNEL (VERDICT r13 #3):
    # the basis is a literal, so DuckDB applies the same rotation with
    # list HOFs — certifying pca_rotate's matrix-vector Arrow kernel, the
    # both-sides application inside prefix_rerank_topk, and the re-rank,
    # on the exact code path the (un-oracle-able) PCA fit rides. The
    # rotated coordinates cast to FLOAT on both engines, absorbing
    # summation-order differences between numpy's matmul and the
    # sequential list_dot_product.
    "WITH base AS (SELECT vec_id, list_transform("
    + _hadamard_sql_literal(64)
    + "::DOUBLE[][], r -> CAST(list_dot_product(r, embedding::DOUBLE[]) "
    "AS FLOAT))::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5), "
    "p AS (SELECT query_id, vec_id, round("
    "list_dot_product(pe, pq) / (sqrt(list_dot_product(pe, pe)) * "
    "sqrt(list_dot_product(pq, pq))), 6) AS ps FROM ("
    "SELECT base.vec_id, q.query_id, base.v[1:8] AS pe, q.qv[1:8] AS pq "
    "FROM base CROSS JOIN q)), "
    "s AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, "
    "row_number() OVER (PARTITION BY query_id ORDER BY ps DESC, vec_id) "
    "AS rn FROM p) WHERE rn <= 40), "
    "r AS (SELECT s.query_id, s.vec_id, round("
    "list_dot_product(base.v, q.qv) / (sqrt(list_dot_product(base.v, base.v)) "
    "* sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim "
    "FROM s JOIN base USING (vec_id) JOIN q USING (query_id)) "
    "SELECT query_id, vec_id, cosine_sim FROM (SELECT query_id, vec_id, "
    "cosine_sim, row_number() OVER (PARTITION BY query_id "
    "ORDER BY cosine_sim DESC, vec_id) AS rn FROM r) WHERE rn <= 10",
    doc="Prefix-rerank under a LITERAL orthonormal basis (similarity.py "
    "hadamard_model + pca_rotate + prefix_rerank_topk): the normalized "
    "Sylvester-Hadamard rotation — entries ±1/sqrt(64) = ±0.125, exact "
    "in binary — applied to both corpus and queries through the same "
    "Arrow matmul kernel the PCA model uses, then the standard 8-dim "
    "coarse pass / 40-candidate shortlist / full-dim re-rank. Converts "
    "the registry's only rows-only query family into 'rows-only for "
    "the eigendecomposition alone': the rotate kernel, the both-sides "
    "application, and the re-rank are all value-hash certified here "
    "(VERDICT r13 #3). The basis is data-blind (a decorrelating "
    "rotation, not a variance-ordering one) — deployment guidance "
    "stays with pca_fit for recall.",
)
def sim_rotated_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.prefix_rerank_topk(
        emb, queries, k=10, prefix_dims=8, shortlist=40,
        rotate=sim.hadamard_model(64),
    )


@query(
    "sim_ivf_topk",
    # Full value-hash oracle: the coarse quantizer is deterministic
    # hash-seeded medoid selection (md5 is md5 everywhere), so DuckDB can
    # reproduce the cells, the probe sets, and therefore the exact ANN
    # result. The medoids unit-normalize with the same left-to-right op
    # order as similarity._unit, keeping the center literals bit-identical.
    "WITH m0 AS (SELECT embedding::DOUBLE[] AS mv, "
    "md5(vec_id::VARCHAR || ':7') AS h FROM embeddings ORDER BY h LIMIT 16), "
    "med AS (SELECT row_number() OVER (ORDER BY h) - 1 AS cell, "
    "list_transform(mv, x -> x / sqrt(list_dot_product(mv, mv))) AS uv FROM m0), "
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm "
    "FROM embeddings), "
    "scored AS (SELECT e.vec_id, med.cell, "
    "row_number() OVER (PARTITION BY e.vec_id "
    "ORDER BY list_dot_product(e.v, med.uv) DESC, med.cell) AS r "
    "FROM e CROSS JOIN med), "
    "cc AS (SELECT vec_id, cell FROM scored WHERE r = 1), "
    "qc AS (SELECT vec_id AS query_id, cell FROM scored WHERE vec_id < 5 AND r <= 4), "
    "cand AS (SELECT qc.query_id, c.vec_id, "
    "round(list_dot_product(c.v, q.v) / (c.nrm * q.nrm), 6) AS cosine_sim "
    "FROM cc JOIN qc USING (cell) "
    "JOIN e c ON c.vec_id = cc.vec_id JOIN e q ON q.vec_id = qc.query_id) "
    "SELECT query_id, vec_id, cosine_sim FROM ("
    "SELECT query_id, vec_id, cosine_sim, row_number() OVER ("
    "PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn FROM cand) "
    "WHERE rn <= 10",
    doc="IVF approximate top-k: deterministic hash-seeded medoid quantizer "
    "(16 cells; md5-smallest corpus vectors, unit-normalized), 4-cell "
    "probe, exact cosine re-rank — the scan-fraction ANN path "
    "(~nprobe/nlist of the corpus per query). The medoid quantizer makes "
    "the cells SQL-reproducible, so this approximate operator gets a FULL "
    "value-hash oracle; the MLlib k-means quantizer remains available as "
    "ivf_topk(quantizer='kmeans') for clustered corpora. Recall vs the "
    "exact baseline is additionally pinned in tests/test_llm_ops.py.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivf_topk(emb, queries, k=10, nlist=16, nprobe=4)


def _angular_sketch_duck(n_planes: int = 16, dim: int = 64, table: int = 0) -> str:
    """DuckDB expression computing the SAME angular sign sketch as
    ``sim.lsh_bucket(embedding, n_planes, dim, table)``: the hyperplanes
    are deterministic md5-derived constants, inlined as literals on both
    engines, so the sketch is bit-identical across Spark and DuckDB."""
    terms = []
    for p in range(n_planes):
        plane = ", ".join(repr(v) for v in sim._hyperplane(table, p, dim))
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], [{plane}]) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@query(
    "sim_ann_lsh_topk",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm, "
    f"{_angular_sketch_duck(8, 64, 0)} AS b0, "
    f"{_angular_sketch_duck(8, 64, 1)} AS b1 FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, b0, b1 FROM e "
    "WHERE vec_id < 5) "
    "SELECT query_id, vec_id, cosine_sim FROM ("
    "SELECT q.query_id, c.vec_id, "
    "round(list_dot_product(c.v, q.qv) / (c.nrm * q.qn), 6) AS cosine_sim, "
    "row_number() OVER (PARTITION BY q.query_id ORDER BY "
    "round(list_dot_product(c.v, q.qv) / (c.nrm * q.qn), 6) DESC, c.vec_id) AS rn "
    "FROM e c JOIN q ON c.b0 = q.b0 OR c.b1 = q.b1) WHERE rn <= 10",
    doc="Approximate top-k via random-hyperplane LSH buckets (2 tables × 8 "
    "planes) + exact re-rank of candidates. Bucket id is a map-side long — "
    "the cluster/partition key at 100 TB. The hyperplanes are md5-seeded "
    "deterministic literals shared with the oracle, so the bucket-candidate "
    "set (and therefore the ANN result) is bit-identical cross-engine — a "
    "FULL value-hash check on an approximate operator; recall vs the exact "
    "baseline is additionally pinned in tests.",
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ann_topk_lsh(emb, queries, k=10)


@query(
    "rel_percentiles",
    "SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 4) AS p50, "
    "round(quantile_cont(o_totalprice, 0.9), 4) AS p90, "
    "round(quantile_cont(o_totalprice, 0.99), 4) AS p99 "
    "FROM orders GROUP BY o_orderstatus",
    doc="Exact interpolated percentiles (Spark `percentile` ≡ DuckDB "
    "quantile_cont). The sketch path at scale is approx_percentile.",
)
def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


@query(
    "rel_stats_agg",
    "SELECT l_returnflag, round(stddev_samp(l_extendedprice), 4) AS sd_price, "
    "round(var_samp(l_quantity), 4) AS var_qty, "
    "round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price, "
    "round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price "
    "FROM lineitem GROUP BY l_returnflag",
    doc="Statistical aggregates: stddev/variance/correlation/covariance.",
)
def rel_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qty_price"),
    )


@query(
    "rel_array_funcs",
    "SELECT vec_id, len(embedding) AS dim, "
    "round(embedding[1]::DOUBLE, 6) AS first_val, "
    "round(list_max(embedding)::DOUBLE, 6) AS max_val, "
    "round(list_min(embedding)::DOUBLE, 6) AS min_val "
    "FROM embeddings",
    doc="Array scalar library over the embedding column: size, element "
    "access, array min/max.",
)
def rel_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_val"),
    )


@query(
    "wm_nested_flatten",
    "SELECT event_id, to_json([struct_pack(line_id := event_id::VARCHAR, "
    "qty := user_id)]) AS lines_json FROM events",
    doc="Op 9: nested array-of-struct → canonical JSON string "
    "(lines → lines_json, reference normalize.py:20-27). The typed array is "
    "retained in-engine; stringification is the serialization boundary only.",
)
def wm_nested_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.normalize import flatten_nested

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.array(
            F.struct(
                F.col("event_id").cast("string").alias("line_id"),
                F.col("user_id").alias("qty"),
            )
        ).alias("lines"),
    )
    return flatten_nested(ev)


@query(
    "txt_corpus_curation",
    """
WITH f AS (
  SELECT doc_id, lang, text,
    len(regexp_extract_all(text, '\\S+')) AS n_tok,
    length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS punct,
    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
    len(list_filter(regexp_extract_all(text, '\\S+'),
        t -> t IN ('the','a','of','and','to','in','is'))) AS stop,
    length(text) AS n_chars_x
  FROM documents),
scored AS (
  SELECT doc_id, lang, text, n_tok,
    0.3 * least(n_tok / 100.0, 1.0) + 0.3 * (1.0 - punct / greatest(n_chars_x, 1))
      + 0.2 * least(stop / greatest(n_tok, 1) * 5, 1.0)
      + 0.2 * (1.0 - digits / greatest(n_chars_x, 1)) AS q
  FROM f),
curated AS (
  SELECT doc_id, lang, n_tok FROM (
    SELECT *, row_number() OVER (PARTITION BY
      sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
    FROM scored WHERE q >= 0.5) WHERE rn = 1)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM curated GROUP BY lang
""",
    headline=True,
    doc="Composite curation pipeline: quality-filter → fingerprint dedup → "
    "per-language token accounting — the chained-operator shape of a real "
    "training-data run.",
)
def txt_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # Fan the regex map stage out across cores ONLY above the measured
    # break-even: under AQE the repartition is its own query stage
    # (~0.45 s of scheduling floor on local[32]) while the four counting
    # regex scans cost ~0.1 ms/doc serialized — so below ~4k docs the
    # single-task scan stage is strictly faster (0.88 s vs 1.17 s at
    # sf0.1's 5k docs; decomposition in SCALE_NOTES round 5). Unknown
    # row count (remote path) takes the conservative branch: repartition.
    # At real scale the scan has many files/row groups and parallelizes
    # without this — the guard only matters for small single-file inputs.
    rows = table_rows_hint(sf_dir, "documents")
    if rows is None or rows > 8_000:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    scored = txt.quality_features(docs).filter(F.col("quality_score") >= 0.5)
    fp = txt.fingerprint(scored)
    # keep-first per fingerprint as an algebraic struct-min aggregate, not a
    # row_number window: min(struct(doc_id,…)) partial-aggregates map-side
    # (doc_id leads the struct and is unique, so the winner is the window's
    # rn=1 row exactly); the window form ships every row to its
    # fingerprint's reducer and sorts there — SCALE_NOTES r5 curation A/B;
    # re-measure with tools/ab.py
    curated = fp.groupBy("fingerprint").agg(
        F.min(F.struct("doc_id", "lang", "n_tokens")).alias("__w")
    )
    return curated.groupBy("__w.lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w.n_tokens").cast("long").alias("total_tokens"),
    )


_PAIR_COS_DUCK = (
    "list_dot_product(a.v, b.v) / (a.nrm * b.nrm)"
)


@query(
    "sim_embedding_neardup",
    "WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm, "
    f"{_angular_sketch_duck(24)} AS sk FROM embeddings) "
    "SELECT id_a, id_b, cosine_sim FROM ("
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    f"round({_PAIR_COS_DUCK}, 6) AS cosine_sim "
    "FROM s a JOIN s b ON a.vec_id < b.vec_id "
    "AND bit_count(xor(a.sk, b.sk)) <= 5) WHERE cosine_sim >= 0.45",
    headline=True,
    doc="Embedding near-duplicate pairs, SKETCH-DEFINED: 24-bit angular "
    "sign sketch (deterministic md5 hyperplanes) with hamming <= 5 via "
    "exact 6x4-bit pigeonhole band-blocking, then exact-cosine >= 0.45 "
    "verification of candidates only. Work is confined to band buckets — "
    "never quadratic in the corpus; at 100 TB the sketch widens (64-bit, "
    "16-bit bands) and the band hash becomes the cluster key. The oracle "
    "computes the identical sketch (same literals), so the predicate is "
    "exact on both engines. The bounded brute-force twin "
    "sim_embedding_neardup_exact is the verifier.",
)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    # Config pinned (not auto-sized): the oracle inlines the 24 hyperplane
    # literals, and the predicate is sketch-defined, so geometry is part of
    # the query's contract. Un-pinned callers get auto_band_config.
    return sim.sketch_banded_neardup(e, n_planes=24, bands=6, band_bits=4)


_NEARDUP_EXACT_BOUND = 350


@query(
    "sim_embedding_neardup_exact",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm "
    f"FROM embeddings WHERE vec_id < {_NEARDUP_EXACT_BOUND}) "
    "SELECT id_a, id_b, cosine_sim FROM ("
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    f"round({_PAIR_COS_DUCK}, 6) AS cosine_sim "
    "FROM e a JOIN e b ON a.vec_id < b.vec_id) WHERE cosine_sim >= 0.45",
    doc="Brute-force all-pairs cosine near-dup — the exact VERIFIER, "
    "explicitly bounded (vec_id < 350, like dd_ngram_jaccard's doc_id "
    "bound) so it can never go quadratic in the corpus. Keeps oracle duty "
    "for exact pair semantics alongside the sketch-banded headline path.",
)
def sim_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _NEARDUP_EXACT_BOUND)
        .select("vec_id", F.col("embedding"), sim.norm(F.col("embedding")).alias("nrm"))
    )
    par = spark.sparkContext.defaultParallelism
    if e.rdd.getNumPartitions() < par:
        e = e.repartition(par)
    e = e.localCheckpoint(eager=False)
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = sim.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cosine_sim", F.round(cos, 6))
        .filter(F.col("cosine_sim") >= 0.45)
        .select("id_a", "id_b", "cosine_sim")
    )


# ===========================================================================
# txt_* — text analysis on documents.
# ===========================================================================


@query(
    "txt_token_stats",
    "SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_tokens, "
    "CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_token_estimate FROM documents",
    doc="Token counting: whitespace tokens + BPE-ish chars/4 estimate, "
    "map-side regexp.",
)
def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        txt.token_count("text").alias("n_tokens"),
        txt.bpe_token_estimate("text").alias("bpe_token_estimate"),
    )


@query(
    "txt_tokens_by_lang",
    "SELECT lang, CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS total_tokens, "
    "count(*) AS n_docs, round(avg(len(regexp_extract_all(text, '\\S+'))), 4) AS avg_tokens "
    "FROM documents GROUP BY lang",
    headline=True,
    doc="Corpus token accounting per language.",
)
def txt_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n = txt.token_count("text")
    return docs.groupBy("lang").agg(
        F.sum(n).cast("long").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(n), 4).alias("avg_tokens"),
    )


_QUALITY_DUCK = """
WITH f AS (
  SELECT doc_id,
    length(text) AS n_chars_x,
    len(regexp_extract_all(text, '\\S+')) AS n_tok,
    length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS punct,
    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
    len(list_filter(regexp_extract_all(text, '\\S+'),
        t -> t IN ('the','a','of','and','to','in','is'))) AS stop
  FROM documents)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
  round(punct / greatest(n_chars_x, 1), 6) AS punct_ratio,
  round(digits / greatest(n_chars_x, 1), 6) AS digit_ratio,
  round(stop / greatest(n_tok, 1), 6) AS stopword_ratio,
  round(0.3 * least(n_tok / 100.0, 1.0) + 0.3 * (1.0 - punct / greatest(n_chars_x, 1))
      + 0.2 * least(stop / greatest(n_tok, 1) * 5, 1.0)
      + 0.2 * (1.0 - digits / greatest(n_chars_x, 1)), 6) AS quality_score
FROM f
"""


@query(
    "txt_quality_score",
    _QUALITY_DUCK,
    doc="Quality scoring: length/punct/digit/stopword features + composite "
    "score (formula pinned in operators/text.py).",
)
def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return txt.quality_features(docs).select(
        "doc_id", "n_tokens", "punct_ratio", "digit_ratio", "stopword_ratio", "quality_score"
    )


def _langid_duck() -> str:
    cases = []
    counts = []
    for lang, words in txt.LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        counts.append(
            f"len(list_filter(regexp_extract_all(text, '\\S+'), t -> t IN ({lst}))) AS c_{lang}"
        )
    langs = list(txt.LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"c_{l}" for l in langs) + ")"
    for l in langs:
        cases.append(f"WHEN c_{l} = {best} AND {best} > 0 THEN '{l}'")
    return (
        "WITH c AS (SELECT doc_id, " + ", ".join(counts) + " FROM documents) "
        "SELECT doc_id, CASE " + " ".join(cases) + " ELSE 'und' END AS lang_pred FROM c"
    )


@query(
    "txt_lang_id",
    _langid_duck(),
    doc="Stopword-hit language ID heuristic (argmax, fixed tie order).",
)
def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return txt.lang_id(docs).select("doc_id", "lang_pred")


@query(
    "txt_fingerprint",
    "SELECT doc_id, sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
    "AS fingerprint FROM documents",
    doc="Whitespace-normalized SHA-256 document fingerprint.",
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return txt.fingerprint(docs).select("doc_id", "fingerprint")


@query(
    "txt_stopword_removal",
    "SELECT doc_id, array_to_string(list_filter(regexp_extract_all(text, '\\S+'), "
    "t -> t NOT IN ('the','a','of','and','to','in','is')), ' ') AS text_clean, "
    "CAST(len(list_filter(regexp_extract_all(text, '\\S+'), "
    "t -> t NOT IN ('the','a','of','and','to','in','is'))) AS INTEGER) AS n_tokens_clean "
    "FROM documents",
    doc="Stopword removal: filter the token array, re-join — the standard "
    "pre-tokenization cleanup, map-side.",
)
def txt_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in txt.LANG_STOPWORDS["en"]])
    kept = F.filter(txt.tokens_of("text"), lambda t: ~F.array_contains(stop, t))
    return docs.select(
        "doc_id",
        F.array_join(kept, " ").alias("text_clean"),
        F.size(kept).alias("n_tokens_clean"),
    )


@query(
    "txt_term_freq",
    "SELECT token, count(*) AS n FROM ("
    "SELECT unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents) "
    "GROUP BY token ORDER BY n DESC, token LIMIT 20",
    doc="Corpus term frequencies (explode → count → top-k).",
)
def txt_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(txt.tokens_of("text")).alias("token"))
    agg = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return rel.top_k(agg, 20, [F.col("n").desc(), F.col("token")])


@query(
    "txt_tfidf",
    "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS token "
    "FROM documents), "
    "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2), "
    "dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1), "
    "n AS (SELECT count(*) AS n FROM documents) "
    "SELECT doc_id, token, tfidf FROM ("
    "SELECT tf.doc_id, tf.token, round(tf.tf * ln(n.n / dfreq.df), 6) AS tfidf, "
    "row_number() OVER (PARTITION BY tf.doc_id "
    "ORDER BY tf.tf * ln(n.n / dfreq.df) DESC, tf.token) AS rn "
    "FROM tf JOIN dfreq USING (token) CROSS JOIN n WHERE tf.doc_id < 50) "
    "WHERE rn <= 5",
    headline=True,
    doc="TF-IDF: top-5 scored terms per document (bounded to doc_id<50). "
    "Document frequencies aggregate map-side; the per-doc top-k is one "
    "window pass.",
)
def txt_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # metadata-only count; embedded as a literal
    # r13 planlint sweep (4 -> 3): document frequency = plain count over
    # per-doc DISTINCT tokens (array_distinct map-side, then explode) —
    # countDistinct(doc_id) planned a second exchange for its two-phase
    # distinct aggregate; deduping inside the row costs zero shuffles.
    # The tf side aggregates only the scored docs (filter pushed to its
    # scan) and is bounded by construction (50 docs), so it BROADCASTS
    # into the corpus-sized df stream instead of exchanging it.
    tf = (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", F.explode(txt.tokens_of("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        docs.select(
            F.explode(F.array_distinct(txt.tokens_of("text"))).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    score = F.col("tf") * F.log(F.lit(n_docs) / F.col("df"))
    scored = dfreq.join(F.broadcast(tf), "token").withColumn("__score", score)
    w = Window.partitionBy("doc_id").orderBy(F.col("__score").desc(), F.col("token"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("doc_id", "token", F.round(F.col("__score"), 6).alias("tfidf"))
    )


@query(
    "txt_bigram_lm_score",
    "WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS tk FROM documents), "
    "bg AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS head, unnest(tk[2:len(tk)]) AS word FROM t), "
    "cab AS (SELECT head, word, count(*) AS cab FROM bg GROUP BY 1, 2), "
    "ca AS (SELECT head, sum(cab) AS ca FROM cab GROUP BY 1), "
    "v AS (SELECT count(DISTINCT word) AS v FROM bg), "
    "p AS (SELECT head, word, ln((cab + 0.5) / (ca + 0.5 * v)) AS logp "
    "FROM cab JOIN ca USING (head) CROSS JOIN v) "
    "SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 6) AS lm_score "
    "FROM bg JOIN p USING (head, word) GROUP BY doc_id",
    headline=True,
    doc="Statistical LM quality filter (CCNet-style, public method): add-k "
    "bigram model trained on the corpus itself, each doc scored by mean log "
    "bigram probability. The aggregated bigram table materializes once "
    "(localCheckpoint — the persist-once landing-table story executed); "
    "head totals are a window sum on the same head partitioning; the "
    "scoring join co-partitions on the head subset of its key — 6 -> 3 "
    "static exchanges (+1 materialization), 1.54x at sf0.1 "
    "(SCALE_NOTES r11 bigram A/B; tools/ab.py). Never doc x doc; k=0.5 "
    "is exact in binary so the smoothed ratio is bit-identical across "
    "engines (operators/text.py bigram_lm_score).",
)
def txt_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return txt.bigram_lm_score(docs)


#: Deterministic mixture-sampling rates in basis points (of 10,000) per
#: source group — the "data mixing" knob of a training-corpus build. A real
#: run derives these from a token budget per source; the sampling mechanism
#: (content-stable hash threshold) is the operator under test.
MIX_RATES_BP: dict[str, int] = {
    **{f"src{i}": 10_000 for i in range(5)},   # keep all
    **{f"src{i}": 5_000 for i in range(5, 10)},   # half
    **{f"src{i}": 2_500 for i in range(10, 15)},  # quarter
    **{f"src{i}": 1_000 for i in range(15, 20)},  # 10%
}


@query(
    "txt_mix_sources",
    "SELECT source, count(*) AS total_docs, "
    "count(*) FILTER (WHERE keep) AS kept_docs, "
    "CAST(coalesce(sum(n_chars) FILTER (WHERE keep), 0) AS BIGINT) AS kept_chars "
    "FROM (SELECT source, n_chars, "
    "('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 15))::BIGINT % 10000 < "
    "CASE " + " ".join(
        f"WHEN source = '{s}' THEN {bp}" for s, bp in MIX_RATES_BP.items()
    ) + " ELSE 0 END AS keep FROM documents) GROUP BY source",
    doc="Deterministic source-weighted mixture sampling (the data-mixing "
    "step of a corpus build): keep a doc iff its content-stable 60-bit "
    "hash bucket falls under the source's rate. Pure map expression + one "
    "aggregate — reproducible across runs/engines, usable as a partition "
    "predicate at 100 TB (unlike rand() sampling).",
)
def txt_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    bucket = txt.hex64(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))) % 10_000
    rate = F.lit(0)
    for s, bp in MIX_RATES_BP.items():
        rate = F.when(F.col("source") == s, F.lit(bp)).otherwise(rate)
    keep = bucket < rate
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.count(F.when(keep, 1)).alias("kept_docs"),
        F.coalesce(F.sum(F.when(keep, F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("kept_chars"),
    )


@query(
    "evt_attribution_last_touch",
    "WITH c AS (SELECT user_id, ts, max(event_id) AS click_event_id "
    "FROM events WHERE event_type = 'click' GROUP BY 1, 2), "
    "p AS (SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase') "
    "SELECT event_id, ts, user_id, value, click_event_id, asof_ts FROM ("
    "SELECT p.event_id, p.ts, p.user_id, p.value, c.click_event_id, c.ts AS asof_ts, "
    "row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC) AS rn "
    "FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts "
    "AND c.ts >= p.ts - INTERVAL 6 HOUR) WHERE rn = 1",
    doc="Last-touch attribution: each purchase credits the most recent "
    "prior click by the same user within 6 h — the as-of-join operator "
    "reused on a marketing-analytics shape. The click side is deduped to "
    "one row per (user, ts) first (keep max event_id) so the as-of winner "
    "is deterministic on both engines.",
)
def evt_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    out = rel.asof_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_event_id"],
        tolerance="6 HOUR",
        left_unique=["event_id"],
    )
    return out.select("event_id", "ts", "user_id", "value", "click_event_id", "asof_ts")


# ===========================================================================
# mm_* — multimodal binary-column plumbing (decode stubbed, see
# operators/multimodal.py).
# ===========================================================================


@query(
    "mm_fake_decode",
    "SELECT doc_id, octet_length(encode(text)) AS byte_len, 'fake/raw' AS format, "
    "octet_length(encode(text)) % 640 + 1 AS width, "
    "(octet_length(encode(text)) * 7) % 480 + 1 AS height, "
    "sha256(text) AS sha256 FROM documents",
    doc="Multimodal plumbing: binary content column → Arrow-batched "
    "mapInPandas decode stage (deterministic fake decoder; real codec slots "
    "into the same batch shape).",
)
def mm_fake_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    blobs = mm.with_binary_content(docs, "text")
    return mm.decode_images(blobs, id_col="doc_id", content_col="content")


@query(
    "mm_real_decode",
    "SELECT doc_id, 'image/x-portable-pixmap' AS format, "
    "doc_id % 16 + 1 AS width, doc_id % 8 + 1 AS height, "
    "CAST(length('P6' || chr(10) || CAST(doc_id % 16 + 1 AS VARCHAR) || ' ' "
    "|| CAST(doc_id % 8 + 1 AS VARCHAR) || chr(10) || '255' || chr(10)) "
    "+ 3 * (doc_id % 16 + 1) * (doc_id % 8 + 1) AS BIGINT) AS byte_len "
    "FROM documents",
    doc="REAL image decode through the multimodal stage: a genuine binary "
    "PPM (P6) file per row (with_ppm_content — header + raster bytes, "
    "dimensions derived from doc_id) flows through the Arrow mapInPandas "
    "decode stage, whose netpbm decoder parses the header and validates "
    "the raster (multimodal.py decode_image_real). The oracle reproduces "
    "the decoded width/height/byte_len arithmetically from doc_id, so a "
    "header-parse bug breaks the hash compare — full value oracle over a "
    "real codec-free decode, not a fake.",
)
def mm_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = mm.with_ppm_content(docs)
    return mm.decode_images(
        blobs, id_col="doc_id", content_col="content", decoder="real"
    ).select("doc_id", "format", "width", "height", "byte_len")


@query(
    "mm_resize",
    # Nearest-neighbor source index = (dst * src_extent) // dst_extent;
    # raster byte j = 3*(y*w + x) + c with pixel ((doc_id + j)*31) % 256
    # (with_ppm_content's arithmetic test raster) — so the resized
    # checksum is an exact integer the oracle reproduces over a 2x4x3 grid.
    "WITH d AS (SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 8 + 1 AS h FROM documents), "
    "g AS (SELECT y2.range AS y2, x2.range AS x2, c.range AS c "
    "FROM range(0, 2) y2, range(0, 4) x2, range(0, 3) c) "
    "SELECT doc_id, w AS width, h AS height, 4 AS out_w, 2 AS out_h, "
    "CAST(sum(((doc_id + 3 * (((y2 * h) // 2) * w + ((x2 * w) // 4)) + c) * 31) % 256) "
    "AS BIGINT) AS checksum "
    "FROM d CROSS JOIN g GROUP BY doc_id, w, h",
    doc="REAL nearest-neighbor image resize in the Arrow decode stage: "
    "genuine P6 rasters are decoded to numpy arrays and downsampled to "
    "4x2 with the standard integer-floor index mapping "
    "(multimodal.py resize_images). The oracle recomputes every resized "
    "pixel arithmetically, so a wrong index mapping or off-by-one in the "
    "raster parse breaks the hash compare.",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = mm.with_ppm_content(docs)
    return mm.resize_images(blobs, out_w=4, out_h=2)


@query(
    "mm_image_features",
    "WITH d AS (SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 8 + 1 AS h FROM documents), "
    "g AS (SELECT range AS p FROM range(0, 128)) "
    "SELECT doc_id, w AS width, h AS height, "
    "round(sum(((doc_id + 3 * p + 0) * 31) % 256) / (w * h), 6) AS mean_r, "
    "round(sum(((doc_id + 3 * p + 1) * 31) % 256) / (w * h), 6) AS mean_g, "
    "round(sum(((doc_id + 3 * p + 2) * 31) % 256) / (w * h), 6) AS mean_b "
    "FROM d JOIN g ON g.p < d.w * d.h GROUP BY doc_id, w, h",
    doc="REAL per-channel feature extraction over decoded rasters: exact "
    "integer channel sums from numpy, mean division + HALF_UP rounding "
    "JVM-side so the FP contract matches SQL (multimodal.py "
    "image_features — the docstring records why rounding in Python would "
    "break at n=128). Oracle sums the same arithmetic raster per linear "
    "pixel index.",
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = mm.with_ppm_content(docs)
    return mm.image_features(blobs)


@query(
    "sim_pq_encode",
    "WITH m AS (SELECT embedding::DOUBLE[] AS c, "
    "md5(vec_id::VARCHAR || ':7') AS h FROM embeddings ORDER BY h LIMIT 16), "
    "meds AS (SELECT c, row_number() OVER (ORDER BY h) - 1 AS j FROM m), "
    "sub AS (SELECT range AS s FROM range(0, 8)), "
    "v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "dist AS (SELECT v.vec_id, sub.s, meds.j, "
    "list_sum(list_transform(range(1, 9), d -> "
    "(v.v[sub.s * 8 + d] - meds.c[sub.s * 8 + d]) * "
    "(v.v[sub.s * 8 + d] - meds.c[sub.s * 8 + d]))) AS dist "
    "FROM v CROSS JOIN sub CROSS JOIN meds), "
    "best AS (SELECT vec_id, s, j, dist, "
    "row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dist) "
    "SELECT vec_id, "
    "CAST(sum(j::BIGINT << (4 * s)::INTEGER) AS BIGINT) AS codes_packed, "
    "round(list_sum(list(dist ORDER BY s)) / 64, 6) AS mse "
    "FROM best WHERE rn = 1 GROUP BY vec_id",
    doc="Product quantization encode (public ANN-compression method): 8 "
    "subspaces x 16 hash-medoid codewords compress each 64-float vector "
    "to 8 bytes + a reconstruction MSE. One Arrow map-side kernel, "
    "codebook broadcast from a bounded driver collect; distances "
    "accumulate dim-sequentially so the full encoding — every code and "
    "MSE — is hash-checked against DuckDB recomputing the same medoids "
    "and distances (similarity.py pq_encode). The 8 4-bit codes are "
    "packed into ONE BIGINT (pack_codes) so the output stays scalar — "
    "literally the 8-byte compressed representation — and the oracle "
    "sums MSE subspace-sequentially (list ORDER BY s) to match the "
    "kernel's FP accumulation order.",
)
def sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    enc = sim.pq_encode(e, m=8, k=16)
    return enc.select(
        "vec_id",
        sim.pack_codes(F.col("codes"), m=8, bits=4).alias("codes_packed"),
        "mse",
    )


@query(
    "sim_pq_adc_topk",
    "WITH m AS (SELECT embedding::DOUBLE[] AS c, "
    "md5(vec_id::VARCHAR || ':7') AS h FROM embeddings ORDER BY h LIMIT 16), "
    "meds AS (SELECT c, row_number() OVER (ORDER BY h) - 1 AS j FROM m), "
    "sub AS (SELECT range AS s FROM range(0, 8)), "
    "v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "dist AS (SELECT v.vec_id, sub.s, meds.j, meds.c, "
    "list_sum(list_transform(range(1, 9), d -> "
    "(v.v[sub.s * 8 + d] - meds.c[sub.s * 8 + d]) * "
    "(v.v[sub.s * 8 + d] - meds.c[sub.s * 8 + d]))) AS dist "
    "FROM v CROSS JOIN sub CROSS JOIN meds), "
    "best AS (SELECT vec_id, s, j, c, "
    "row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dist), "
    "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
    "FROM embeddings WHERE vec_id < 8), "
    "qd AS (SELECT q.query_id, b.vec_id, b.s, "
    "list_sum(list_transform(range(1, 9), d -> "
    "(q.qv[b.s * 8 + d] - b.c[b.s * 8 + d]) * "
    "(q.qv[b.s * 8 + d] - b.c[b.s * 8 + d]))) AS sd "
    "FROM q CROSS JOIN best b WHERE b.rn = 1), "
    "tot AS (SELECT query_id, vec_id, list_sum(list(sd ORDER BY s)) AS d "
    "FROM qd GROUP BY 1, 2) "
    "SELECT query_id, vec_id, adc_dist FROM ("
    "SELECT query_id, vec_id, round(d, 6) AS adc_dist, "
    "row_number() OVER (PARTITION BY query_id ORDER BY round(d, 6), vec_id) AS rn "
    "FROM tot) WHERE rn <= 10",
    doc="PQ search via asymmetric distance computation: each query "
    "precomputes an m x k LUT of exact subspace distances to the "
    "codebook, and the corpus scan touches ONLY the 8-byte codes — m LUT "
    "lookups per vector, never the original floats (similarity.py "
    "pq_adc_topk). Dim- and subspace-sequential accumulation plus "
    "rounded-distance ranking make the full top-10 hash-checkable "
    "against DuckDB recomputing every code and LUT entry.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.pq_adc_topk(e, q, k=10, m=8, kcode=16)


# shared by sim_ivfpq_topk / sim_ivfpq_index_topk / sim_ivfpq_rerank_topk:
# everything through the ADC-scored candidate set (cand CTE)
_IVFPQ_CAND_DUCK = (
    "WITH cm AS (SELECT embedding::DOUBLE[] AS c, "
    "md5(vec_id::VARCHAR || ':11') AS h FROM embeddings ORDER BY h LIMIT 16), "
    "cmeds AS (SELECT c, row_number() OVER (ORDER BY h) - 1 AS j FROM cm), "
    "pm AS (SELECT embedding::DOUBLE[] AS c, "
    "md5(vec_id::VARCHAR || ':7') AS h FROM embeddings ORDER BY h LIMIT 16), "
    "pmeds AS (SELECT c, row_number() OVER (ORDER BY h) - 1 AS j FROM pm), "
    "v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "celld AS (SELECT v.vec_id, cmeds.j, "
    "list_sum(list_transform(range(1, 65), d -> "
    "(v.v[d] - cmeds.c[d]) * (v.v[d] - cmeds.c[d]))) AS dist "
    "FROM v CROSS JOIN cmeds), "
    "cell AS (SELECT vec_id, j AS cell FROM (SELECT vec_id, j, "
    "row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn FROM celld) "
    "WHERE rn = 1), "
    "sub AS (SELECT range AS s FROM range(0, 8)), "
    "pdist AS (SELECT v.vec_id, sub.s, pmeds.j, pmeds.c, "
    "list_sum(list_transform(range(1, 9), d -> "
    "(v.v[sub.s * 8 + d] - pmeds.c[sub.s * 8 + d]) * "
    "(v.v[sub.s * 8 + d] - pmeds.c[sub.s * 8 + d]))) AS dist "
    "FROM v CROSS JOIN sub CROSS JOIN pmeds), "
    "best AS (SELECT vec_id, s, j, c, "
    "row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM pdist), "
    "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
    "FROM embeddings WHERE vec_id < 8), "
    "qcelld AS (SELECT q.query_id, cmeds.j, "
    "list_sum(list_transform(range(1, 65), d -> "
    "(q.qv[d] - cmeds.c[d]) * (q.qv[d] - cmeds.c[d]))) AS dist "
    "FROM q CROSS JOIN cmeds), "
    "probe AS (SELECT query_id, j AS cell FROM (SELECT query_id, j, "
    "row_number() OVER (PARTITION BY query_id ORDER BY dist, j) AS rn FROM qcelld) "
    "WHERE rn <= 4), "
    "qd AS (SELECT q.query_id, b.vec_id, b.s, "
    "list_sum(list_transform(range(1, 9), d -> "
    "(q.qv[b.s * 8 + d] - b.c[b.s * 8 + d]) * "
    "(q.qv[b.s * 8 + d] - b.c[b.s * 8 + d]))) AS sd "
    "FROM q CROSS JOIN best b WHERE b.rn = 1), "
    "tot AS (SELECT query_id, vec_id, list_sum(list(sd ORDER BY s)) AS d "
    "FROM qd GROUP BY 1, 2), "
    "cand AS (SELECT tot.query_id, tot.vec_id, tot.d FROM tot "
    "JOIN cell ON cell.vec_id = tot.vec_id "
    "JOIN probe ON probe.query_id = tot.query_id AND probe.cell = cell.cell)"
)


@query(
    "sim_ivfpq_topk",
    _IVFPQ_CAND_DUCK + " "
    "SELECT query_id, vec_id, adc_dist FROM ("
    "SELECT query_id, vec_id, round(d, 6) AS adc_dist, "
    "row_number() OVER (PARTITION BY query_id ORDER BY round(d, 6), vec_id) AS rn "
    "FROM cand) WHERE rn <= 10",
    doc="IVF-PQ search, the combined index layout large ANN deployments "
    "run: a coarse L2 cell routes each query to nprobe/nlist of the "
    "corpus, and the scan ADC-scores ONLY the 8-byte PQ codes of vectors "
    "in probed cells (similarity.py ivfpq_encode / ivfpq_topk; at scale "
    "cell is the partition column, as the persisted-IVF layout pins). "
    "Every ranking layer — cell assignment, probe choice, code argmin, "
    "final top-10 — is deterministic and the oracle recomputes all of "
    "them: full value-hash over a two-level ANN index.",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivfpq_topk(e, q, k=10, nlist=16, nprobe=4, m=8, kcode=16)


@query(
    "dd_prefix_jaccard_join",
    "WITH s AS (SELECT doc_id, list_distinct(regexp_extract_all(text, '\\S+')) AS tk "
    "FROM documents WHERE doc_id < 1200) "
    "SELECT id_a, id_b, jaccard_sim FROM ("
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "round(len(list_intersect(a.tk, b.tk))::DOUBLE / "
    "len(list_distinct(list_concat(a.tk, b.tk)))::DOUBLE, 6) AS jaccard_sim, "
    "len(list_intersect(a.tk, b.tk))::DOUBLE / "
    "len(list_distinct(list_concat(a.tk, b.tk)))::DOUBLE AS rawj "
    "FROM s a JOIN s b ON a.doc_id < b.doc_id) WHERE rawj >= 0.9",
    doc="EXACT similarity join via prefix filtering (PPJoin-family "
    "candidate rule): every token-set Jaccard >= 0.9 pair, found by "
    "joining only on rarest-first prefix tokens — no minhash "
    "approximation, no docs x docs cross product (dedup.py "
    "prefix_jaccard_join; the brute-force oracle IS the all-pairs form "
    "the prefix filter provably reproduces).",
)
def dd_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1200)
    return dd.prefix_jaccard_join(docs, threshold=0.9)


@query(
    "dd_neardup_incremental",
    f"SELECT * FROM ({_neardup_duck(0.5)}) WHERE id_a < 300",
    headline=True,
    doc="Incremental near-dup: docs with id < 300 arrive as a DELTA and are "
    "deduped against a PERSISTED index of the id >= 300 corpus "
    "(dedup.py neardup_index_write / neardup_incremental) — the daily-"
    "pipeline shape where corpus signatures are computed once, and a "
    "probe's cost scales with the delta: the index read is partition-"
    "pruned to the delta's (band, bhash-prefix) values, verification to "
    "the collided id-buckets. The band scheme is byte-identical to the "
    "full run (_band_rows is shared), so the oracle is simply the full "
    "all-docs near-dup pair set filtered to pairs touching the delta "
    "(delta ids sort first, so id_a < 300 ≡ delta involvement).",
)
def dd_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") >= 300)
    delta = docs.filter(F.col("doc_id") < 300)
    # prefix_len=1 / id_buckets=16 (6 bands x 16 prefix dirs, 16 shingle
    # buckets): at registry scale the probe cost is FILE LISTING, not data
    # — the operator defaults (prefix_len=2, id_buckets=64) write
    # 6 x 256 + 64 directories whose footer reads dominate a sub-5k-doc
    # corpus probe (measured 4.6 s -> 2.5 s with the small-corpus sizing).
    # The 100 TB sizing (longer prefixes, more buckets for finer pruning)
    # stays the operator default, per its docstring.
    path = _process_cached_index(
        "nd", sf_dir,
        lambda p: dd.neardup_index_write(
            corpus, p, bhash_prefix_len=1, id_buckets=16
        ),
    )
    return dd.neardup_incremental(spark, delta, path, threshold=0.5)


@query(
    "evt_top_paths",
    "WITH s AS (SELECT user_id, event_type AS e1, "
    "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2, "
    "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3 "
    "FROM events) "
    "SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n_occurrences "
    "FROM s WHERE e3 IS NOT NULL GROUP BY 1 "
    "ORDER BY n_occurrences DESC, path LIMIT 20",
    doc="Event-sequence mining: top-20 per-user event-type trigram paths. "
    "One keyed window (two leads share a frame), map-side path concat, one "
    "count aggregate, TakeOrderedAndProject top-k — never materializes "
    "the path universe. The (ts, event_id) ordering and the count-then-"
    "path tiebreak make the result deterministic on both engines.",
)
def evt_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(20)
    )


@query(
    "mm_audio_decode",
    # with_wav_content's test signal: n = id % 800 + 10 mono samples at
    # 8 kHz, sample[j] = ((id + j) * 37) % 65536 - 32768 (int16).
    "WITH d AS (SELECT doc_id, doc_id % 800 + 10 AS n FROM documents), "
    "g AS (SELECT range AS p FROM range(0, 810)) "
    "SELECT doc_id, 'audio/wav' AS format, 1 AS channels, 8000 AS sample_rate, "
    "n AS n_samples, "
    "CAST(sum(abs(((doc_id + p) * 37) % 65536 - 32768)) AS BIGINT) AS sum_abs, "
    "round(sqrt(sum(power(((doc_id + p) * 37) % 65536 - 32768, 2)) / n), 6) AS rms "
    "FROM d JOIN g ON g.p < d.n GROUP BY doc_id, n",
    doc="REAL audio decode through the multimodal stage: a genuine mono "
    "16-bit PCM WAV per row (with_wav_content) flows through the Arrow "
    "mapInPandas stage, whose RIFF/WAVE walker parses fmt + data chunks "
    "and decodes int16 samples (multimodal.py decode_audio_real / "
    "audio_features). The oracle reproduces sample count, |x| sum and RMS "
    "arithmetically from doc_id — full value oracle over a codec-free "
    "audio decode, the WAV twin of mm_real_decode.",
)
def mm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = mm.with_wav_content(docs)
    out = mm.audio_features(blobs)
    return out.select(
        "doc_id",
        "format",
        F.col("channels").cast("int").alias("channels"),
        F.col("sample_rate").cast("int").alias("sample_rate"),
        "n_samples",
        "sum_abs",
        "rms",
    )


def headline_queries() -> dict[str, QuerySpec]:
    return {k: v for k, v in REGISTRY.items() if v.headline}


# ===========================================================================
# Widened TPC-H-shaped relational coverage (adapted to the testdata columns:
# no partsupp table, no l_shipmode/l_commitdate/l_receiptdate).
# ===========================================================================


@query(
    "rel_q6_forecast_revenue",
    "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
    "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24",
    doc="TPC-H Q6 shape: pure scan-filter-agg; every predicate pushed to "
    "parquet, zero shuffles beyond the final single-row reduce.",
)
def rel_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "rel_q7_volume_shipping",
    "SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue FROM ("
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(year(l.l_shipdate) AS BIGINT) AS l_year, "
    "l.l_extendedprice * (1 - l.l_discount) AS volume "
    "FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey "
    "JOIN orders o ON o.o_orderkey = l.l_orderkey "
    "JOIN customer c ON c.c_custkey = o.o_custkey "
    "JOIN nation n1 ON s.s_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON c.c_nationkey = n2.n_nationkey "
    "WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
    "AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00') "
    "GROUP BY supp_nation, cust_nation, l_year",
    doc="TPC-H Q7 shape: nation-pair volume by ship year; both nation dims "
    "broadcast, disjunctive pair predicate evaluated post-join.",
)
def rel_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "rel_q8_market_share",
    "SELECT o_year, round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END) "
    "/ sum(volume), 6) AS mkt_share FROM ("
    "SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year, "
    "l.l_extendedprice * (1 - l.l_discount) AS volume, n2.n_name AS nation "
    "FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey "
    "JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n1 ON c.c_nationkey = n1.n_nationkey "
    "JOIN region r ON n1.n_regionkey = r.r_regionkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
    "JOIN nation n2 ON s.s_nationkey = n2.n_nationkey "
    "WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY' "
    "AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00') "
    "GROUP BY o_year",
    doc="TPC-H Q8 shape: 8-way join, conditional-aggregation market-share "
    "ratio per year; all dims broadcast, one fact shuffle.",
)
def rel_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_5", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "rel_q10_returned_items",
    "SELECT c.c_custkey, c.c_name, "
    "((sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) "
    "* (100 - CAST(round(l.l_discount * 100) AS BIGINT)))::BIGINT + 50) // 100) / 100.0 AS revenue, "
    "c.c_acctbal, n.n_name "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00' AND l.l_returnflag = 'R' "
    "GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
    doc="TPC-H Q10 shape: returned-item revenue per customer, quarter "
    "window, deterministic top-20 (TakeOrderedAndProject). Revenue is "
    "summed in exact integer 1/100-cent units (price and discount are "
    "2-decimal grids): order-independent, so the cross-engine compare "
    "can't be flipped by a half-cent boundary.",
)
def rel_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    agg = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            # Half-up to cents in exact integer space ((milli+50) div 100):
            # double round() disagrees across engines exactly on .5 cents.
            (
                F.floor(
                    (
                        F.sum(
                            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                            * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
                        )
                        + 50
                    )
                    / 100
                ).cast("long")
                / 100.0
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )
    return rel.top_k(agg, 20, [F.col("revenue").desc(), F.col("c_custkey")])


@query(
    "rel_q14_promo_revenue",
    "SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO' "
    "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END) "
    "/ sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_revenue_pct "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00' "
    "AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'",
    doc="TPC-H Q14 shape: conditional aggregation ratio (promo revenue "
    "share); part dim broadcast into the filtered fact scan.",
)
def rel_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "rel_q15_top_supplier",
    "WITH rev AS (SELECT l_suppkey AS supplier_no, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY l_suppkey) "
    "SELECT s.s_suppkey, s.s_name, r.total_revenue FROM supplier s "
    "JOIN rev r ON s.s_suppkey = r.supplier_no "
    "WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)",
    doc="TPC-H Q15 shape: top supplier by quarterly revenue via scalar "
    "max subquery over a derived aggregate (revenue rounded before the "
    "equality so both engines agree).",
)
def rel_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    # rev is |suppliers|-sized (tiny next to the fact): an empty-partition
    # window max over it is a single-task reduce, not a fact-table sort.
    w = Window.partitionBy()
    top = rev.withColumn("__mx", F.max("total_revenue").over(w)).filter(
        F.col("total_revenue") == F.col("__mx")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(top), s.s_suppkey == top.supplier_no)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "rel_q16_supplier_variety",
    "SELECT p.p_brand, p.p_type, p.p_size, "
    "count(DISTINCT l.l_suppkey) AS supplier_cnt "
    "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
    "WHERE p.p_brand <> 'Brand#45' AND p.p_type <> 'PROMO' "
    "AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22) "
    "AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
    "GROUP BY p.p_brand, p.p_type, p.p_size",
    doc="TPC-H Q16 shape: supplier variety per part group; NOT IN exclusion "
    "as a broadcast anti join, count distinct over one keyed shuffle.",
)
def rel_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    l = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "rel_q17_small_qty_revenue",
    "WITH a AS (SELECT l_partkey, avg(l_quantity) AS aq FROM lineitem GROUP BY l_partkey) "
    "SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "JOIN a ON a.l_partkey = l.l_partkey "
    "WHERE p.p_brand = 'Brand#23' AND l.l_quantity < 0.5 * a.aq",
    doc="TPC-H Q17 shape: per-key scalar aggregate (avg qty per part) "
    "joined back against the fact as a small-side broadcast.",
)
def rel_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    avg_qty = l.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("aq")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "rel_q19_disjunctive_join",
    "SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue "
    "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
    "WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 "
    "AND l.l_quantity BETWEEN 1 AND 11) "
    "OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 25 "
    "AND l.l_quantity BETWEEN 10 AND 20) "
    "OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50 "
    "AND l.l_quantity BETWEEN 20 AND 30)",
    doc="TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides — "
    "equi-join on partkey with the disjunction evaluated post-join "
    "(Catalyst extracts the common partkey conjunct).",
)
def rel_q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "rel_grouping_sets",
    "SELECT o_orderstatus, o_orderpriority, "
    "CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid, "
    "count(*) AS n, round(sum(o_totalprice), 2) AS total FROM orders "
    "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())",
    doc="Explicit GROUPING SETS (beyond rollup/cube) with grouping_id "
    "disambiguation of the superaggregate rows.",
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        "SELECT o_orderstatus, o_orderpriority, "
        "CAST(grouping_id() AS BIGINT) AS gid, "
        "count(*) AS n, round(sum(o_totalprice), 2) AS total FROM __gs_orders "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"
    )


# ===========================================================================
# Additional LLM-data operators: PII redaction, SimHash near-dup pairs,
# corpus length histogram, per-label embedding centroids.
# ===========================================================================

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@query(
    "txt_pii_redaction",
    "WITH aug AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com or +1-555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') "
    "AS t FROM documents) "
    "SELECT doc_id, "
    "regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
    "'<EMAIL>', 'g'), '\\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted, "
    "CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) "
    "+ len(regexp_extract_all(t, '\\+1-555-[0-9]{4}')) AS INTEGER) AS n_redacted "
    "FROM aug",
    doc="PII redaction (email/phone regex scrub) — the pre-training privacy "
    "filter. Deterministic synthetic PII is injected per row so the scrub "
    "is exercised on every document; pure codegen regexp_replace, no UDF.",
)
def txt_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
    )
    t = docs.withColumn("t", aug)
    n_red = (
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), F.lit(0)))
    ).cast("int")
    return t.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted"),
        n_red.alias("n_redacted"),
    )


@query(
    "dd_simhash_neardup_pairs",
    f"WITH s AS ({_simhash_duck(16)}) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
    "FROM s a JOIN s b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3",
    doc="SimHash near-dup pairs at hamming <= 3 via 4x4-bit band blocking "
    "(pigeonhole: <=3 differing bits leaves >=1 of 4 bands equal, so the "
    "banded candidate join is exact, never quadratic in the corpus). "
    "Oracle verifies with brute-force all-pairs.",
)
def dd_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = dd.with_simhash(docs, "text", 16).select("doc_id", "simhash")
    # Materialization fence: the 16-aggregate simhash expression would be
    # recomputed on both join sides (CollapseProject inlines it).
    sh = sh.localCheckpoint(eager=False)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("b"),
                        F.shiftright(F.col("simhash"), 4 * j)
                        .bitwiseAND(F.lit(15))
                        .alias("v"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", F.col("band.b").alias("b"), F.col("band.v").alias("v"))
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "b", "v"
    )
    b2 = bands.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), "b", "v"
    )
    # hamming filter BEFORE the distinct: map-side predicate first, so the
    # dedup shuffle carries only surviving pairs, not every band collision
    cand = (
        a.join(b2, ["b", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
        )
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    return cand


@query(
    "txt_length_histogram",
    "SELECT CAST(floor(n_chars / 50.0) AS BIGINT) AS bucket, count(*) AS n, "
    "round(avg(n_chars), 4) AS avg_chars FROM documents GROUP BY 1",
    doc="Corpus length histogram (50-char buckets) — the length-filter "
    "diagnostic every curation pipeline starts with.",
)
def txt_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.floor(F.col("n_chars") / F.lit(50.0)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@query(
    "sim_label_centroid",
    "WITH u AS (SELECT label, generate_subscripts(embedding, 1) AS idx, "
    "unnest(embedding) AS x FROM embeddings) "
    "SELECT label, CAST(idx - 1 AS INTEGER) AS pos, round(avg(x), 6) AS centroid "
    "FROM u GROUP BY label, idx",
    doc="Per-label embedding centroid (elementwise mean) — the cluster "
    "prototype builder for IVF training / dataset cartography. posexplode "
    "keeps it one shuffle on (label, pos); no Python.",
)
def sim_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return e.groupBy("label", "pos").agg(F.round(F.avg("val"), 6).alias("centroid"))


@query(
    "rel_q9_product_revenue",
    "SELECT nation, o_year, round(sum(volume), 2) AS revenue FROM ("
    "SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year, "
    "l.l_extendedprice * (1 - l.l_discount) AS volume "
    "FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
    "JOIN orders o ON o.o_orderkey = l.l_orderkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "WHERE p.p_name LIKE '%red%') GROUP BY nation, o_year",
    doc="TPC-H Q9 shape (profit sans partsupp supplycost): substring LIKE "
    "over the part dim, 5-way join, revenue by supplier nation and year.",
)
def rel_q9_product_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
    )
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


@query(
    "rel_time_range_window",
    "SELECT event_id, user_id, ts, "
    "round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) "
    "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS avg_1h, "
    "count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) "
    "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h "
    "FROM events",
    doc="Time-range window frame: trailing-1h per-user average in epoch-"
    "microsecond RANGE space (exact tie semantics across engines; ts has "
    "sub-second precision so second-granularity frames would diverge). "
    "One keyed shuffle; the rolling-feature primitive for sessionized ML "
    "feature extraction.",
)
def rel_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.avg("value").over(w), 4).alias("avg_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


@query(
    "txt_stratified_sample",
    "SELECT lang, count(*) AS n_sampled, round(avg(n_chars), 4) AS avg_chars "
    "FROM documents "
    "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 = 0 "
    "GROUP BY lang",
    doc="Deterministic ~20% stratified sample per language: membership is a "
    "pure hash of the stable doc_id (reproducible across runs, engines, "
    "and cluster sizes - no RNG, no driver state), verified per stratum.",
)
def txt_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 5
    )
    return (
        docs.filter(bucket == 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@query(
    "evt_value_winsorize",
    "WITH q AS (SELECT quantile_cont(value, 0.05) AS lo, "
    "quantile_cont(value, 0.95) AS hi FROM events) "
    "SELECT event_type, count(*) AS n, "
    "round(avg(CASE WHEN value < lo THEN lo WHEN value > hi THEN hi "
    "ELSE value END), 4) AS avg_winsorized FROM events, q GROUP BY event_type",
    doc="Quantile winsorization (clamp to [p5, p95]) - the outlier-taming "
    "step before normalizing a numeric feature. Exact percentiles computed "
    "once (single-row result broadcast into the clamp pass); Spark "
    "percentile == DuckDB quantile_cont interpolation.",
)
def evt_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    q = ev.agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clamped = ev.crossJoin(F.broadcast(q)).withColumn(
        "v_w",
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value")),
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v_w"), 4).alias("avg_winsorized"),
    )


@query(
    "txt_repetition_score",
    "WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents) "
    "SELECT doc_id, CAST(greatest(len(toks) - 2, 0) AS INTEGER) AS n_trigrams, "
    "CASE WHEN len(toks) >= 3 THEN round(1.0 - "
    "len(list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), "
    "j -> toks[j] || ' ' || toks[j + 1] || ' ' || toks[j + 2])))::DOUBLE "
    "/ greatest(len(toks) - 2, 1), 6) ELSE 0.0 END AS rep_ratio "
    "FROM t",
    doc="Gopher-style repetition quality signal: fraction of duplicated "
    "word trigrams per document (1 - distinct/total). Map-side only — the "
    "trigram array is built with the arrays_zip slice trick (one "
    "tokenization per row, not per element).",
)
def txt_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = txt.tokens_of("text")
    cnt = F.size(toks) - 2
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(3)])
    grams = F.transform(
        zipped, lambda x: F.concat_ws(" ", x["0"], x["1"], x["2"])
    )
    n_tri = F.greatest(F.size(toks) - 2, F.lit(0))
    rep = F.when(
        F.size(toks) >= 3,
        F.round(
            1.0
            - F.size(F.array_distinct(grams)).cast("double")
            / F.greatest(n_tri, F.lit(1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id", n_tri.cast("int").alias("n_trigrams"), rep.alias("rep_ratio")
    )


@query(
    "txt_pack_bins",
    "WITH t AS (SELECT doc_id, doc_id % 8 AS shard, "
    "CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens FROM documents) "
    "SELECT doc_id, shard, n_tokens, "
    "CAST((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT - n_tokens) // 512 "
    "AS BIGINT) AS bin FROM t",
    doc="Training-batch packing: greedy assignment of documents to ~512-"
    "token bins via a running token cumsum. Sharded (doc_id % 8) so the "
    "cumsum window parallelizes — a single global ORDER BY cumsum would "
    "serialize the whole corpus through one task at 100 TB; per-shard "
    "bins are the scale-correct layout (bin identity = shard + bin). "
    "Exact integer arithmetic end-to-end.",
)
def txt_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(txt.tokens_of("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 512).cast("long").alias("bin"),
    )


@query(
    "rel_rank_family",
    "SELECT o_custkey, o_orderkey, "
    "CAST(rank() OVER w AS BIGINT) AS rnk, "
    "CAST(dense_rank() OVER w AS BIGINT) AS drnk, "
    "round(percent_rank() OVER w, 6) AS prnk, "
    "round(cume_dist() OVER w, 6) AS cdist "
    "FROM orders WHERE o_custkey < 200 "
    "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)",
    doc="Full ranking-function family (rank/dense_rank/percent_rank/"
    "cume_dist) over one keyed shuffle; deterministic order via the "
    "orderkey tiebreak.",
)
def rel_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "rel_unpivot",
    "SELECT p_partkey, metric, round(value, 4) AS value FROM (UNPIVOT "
    "(SELECT p_partkey, p_retailprice::DOUBLE AS retailprice, "
    "p_size::DOUBLE AS size FROM part) "
    "ON retailprice, size INTO NAME metric VALUE value)",
    doc="Unpivot/melt wide metrics into (key, metric, value) long form — "
    "the inverse of rel_pivot_status; narrow transform stays map-side "
    "(an Expand node, no shuffle).",
)
def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return p.unpivot(
        ["p_partkey"], ["retailprice", "size"], "metric", "value"
    ).select("p_partkey", "metric", F.round("value", 4).alias("value"))


@query(
    "evt_funnel_click_purchase",
    "WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'), "
    "p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase') "
    "SELECT c.user_id, count(*) AS n_conversions, "
    "CAST(min(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS min_lag_us "
    "FROM c JOIN p ON c.user_id = p.user_id "
    "AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR "
    "GROUP BY c.user_id",
    doc="Event-sequence funnel: click followed by purchase within 1h, per "
    "user. Equi-join on user_id with a time-band residual — one keyed "
    "shuffle, same plan family as the tolerance-banded as-of join; the "
    "batch twin of the watermarked stream-stream interval join.",
)
def evt_funnel_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.unix_micros("p_ts") <= F.unix_micros("c_ts") + 3_600_000_000),
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.min(F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("min_lag_us"),
    )


@query(
    "rel_map_funcs",
    "SELECT event_id, array_to_string(list_sort(json_keys(props)), ',') AS prop_keys, "
    "CAST(len(json_keys(props)) AS INTEGER) AS n_props, "
    "json_extract(props, '$.k')::BIGINT AS k_val FROM events",
    doc="Map scalar library over the JSON props column: from_json to a "
    "typed map, key listing, cardinality, element access — the schema-on-"
    "read path the reference's payload JSONB column implies "
    "(reference init_dw.sql:34). Keys are serialized with array_join so "
    "the driver's scalar canonicalizer can hash the column (array<string> "
    "is unhashable in its pandas sort).",
)
def rel_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("prop_keys"),
        F.size(m).alias("n_props"),
        m.getItem("k").alias("k_val"),
    )


@query(
    "txt_contamination_check",
    "WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS b "
    "FROM documents), "
    "sh AS (SELECT doc_id, b, unnest(list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 1)), "
    "j -> toks[j] || ' ' || toks[j + 1] || ' ' || toks[j + 2] || ' ' || toks[j + 3]"
    "))) AS g FROM t WHERE len(toks) >= 4), "
    "train AS (SELECT DISTINCT g FROM sh WHERE b <> 0), "
    "test AS (SELECT doc_id, g FROM sh WHERE b = 0) "
    "SELECT test.doc_id, count(DISTINCT test.g) AS n_overlap "
    "FROM test JOIN train ON test.g = train.g "
    "GROUP BY test.doc_id HAVING count(DISTINCT test.g) >= 3",
    doc="Train/test decontamination: flag eval-split documents whose word "
    "4-grams overlap the train split (>=3 distinct shared shingles). "
    "Split membership is the same deterministic doc_id hash as "
    "txt_deterministic_split; the overlap probe is a SEMI join against "
    "the raw train shingle stream (semi never duplicates, so the train "
    "side needs no distinct aggregate) and shingles_of is per-doc "
    "distinct, so count(*) == countDistinct — the txt_decontaminate_train "
    "r11 rebuild applied to its sibling (5 -> 4 exchanges). Never "
    "doc x doc.",
)
def txt_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 10
    )
    sh = (
        docs.withColumn("b", bucket)
        .select("doc_id", "b", F.explode(dd.shingles_of("text", 4)).alias("g"))
    )
    return (
        sh.filter(F.col("b") == 0)
        .join(sh.filter(F.col("b") != 0).select("g"), "g", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= 3)
    )


@query(
    "sim_label_cohesion",
    "WITH u AS (SELECT label, generate_subscripts(embedding, 1) AS idx, "
    "unnest(embedding) AS x FROM embeddings), "
    "c AS (SELECT label, idx, avg(x) AS m FROM u GROUP BY label, idx), "
    "carr AS (SELECT label, list(m ORDER BY idx) AS cv FROM c GROUP BY label) "
    "SELECT e.label, count(*) AS n, round(avg("
    "list_dot_product(e.embedding::DOUBLE[], carr.cv) / "
    "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(carr.cv, carr.cv)))), 6) AS cohesion "
    "FROM embeddings e JOIN carr ON e.label = carr.label GROUP BY e.label",
    doc="Cluster cohesion: mean cosine of each vector to its label "
    "centroid — the dataset-cartography diagnostic for label quality. "
    "Centroids are |labels|-sized (broadcast); one scan, one tiny agg, "
    "no pairwise work.",
)
def sim_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("m"))
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    )
    joined = e.join(F.broadcast(carr.withColumnRenamed("label", "c_label")),
                    F.col("label") == F.col("c_label"))
    cos = sim.dot(F.col("embedding"), F.col("cv")) / (
        sim.norm(F.col("embedding"))
        * F.sqrt(sim.dot(F.col("cv"), F.col("cv")))
    )
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg(cos), 6).alias("cohesion")
    )


@query(
    "dq_referential_integrity",
    "SELECT 'lineitem_orders' AS fk, count(*) AS n_orphans FROM lineitem l "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) "
    "UNION ALL SELECT 'orders_customer', count(*) FROM orders o "
    "WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey) "
    "UNION ALL SELECT 'lineitem_part', count(*) FROM lineitem l "
    "WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)",
    doc="Data-quality referential-integrity audit: orphan counts across the "
    "FK graph as anti joins. No forced broadcast: orders/part key sets are "
    "fact-scale at the design target, so AQE picks broadcast vs shuffled "
    "anti join from runtime sizes (forcing F.broadcast would override the "
    "autoBroadcastJoinThreshold safety and OOM at 100 TB). The query form "
    "of the operators/quality.py expectations.",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")

    def orphans(fact, dim, cond, fk):
        return (
            fact.join(dim, cond, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(fk).alias("fk"), "n_orphans")
        )

    return (
        orphans(l, o.select("o_orderkey"), l.l_orderkey == F.col("o_orderkey"), "lineitem_orders")
        .unionByName(
            orphans(o, c.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "orders_customer")
        )
        .unionByName(
            orphans(l, p.select("p_partkey"), l.l_partkey == F.col("p_partkey"), "lineitem_part")
        )
    )


@query(
    "dd_dedup_keep_canonical",
    "WITH pairs AS (SELECT id_a, id_b FROM ("
    + _neardup_duck(0.5)
    + ")) SELECT d.lang, count(*) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS kept_chars "
    "FROM documents d WHERE d.doc_id NOT IN (SELECT id_b FROM pairs) GROUP BY d.lang",
    doc="Dedup APPLICATION: greedy canonical-keep — drop every doc that "
    "near-duplicates (MinHash+LSH, Jaccard>=0.5) a lower-id doc, keep the "
    "rest; per-language survivor accounting. The pair set is the banded "
    "LSH output (never quadratic); the removal itself is one left-anti "
    "join against the id_b side (candidate-pair-sized, broadcast-able). "
    "Greedy-by-id is deterministic and engine-independent; component-wise "
    "canonical selection is dd_neardup_components' job.",
)
def dd_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # repartition feeds ONLY the CPU-bound signature stage (md5 shingle
    # hashing needs the cores; a single parquet file scans as few
    # partitions); the anti-join side reads the scan directly so the
    # survivor leg is one map-side pass (r12 planlint sweep, 5 -> 2)
    pairs = dd.minhash_neardup_pairs(
        docs.repartition(spark.sparkContext.defaultParallelism)
    )
    # no .distinct(): anti-join semantics ignore duplicate build keys, so
    # deduping the drop list only paid an exchange (r11 planlint sweep).
    # broadcast: the drop list is near-dup ids ONLY — bounded by the dup
    # fraction of the corpus. The hint is GATED now (ADVICE r12): a
    # metadata-cheap doc count times the deployment's expected dup
    # fraction (dd.EXPECTED_DUP_FRACTION) must fit
    # dd.MAX_BROADCAST_DROP_IDS, else the hint drops and AQE picks the
    # join strategy from runtime sizes (the SMJ co-partition form
    # measured in SCALE_NOTES r12).
    dropped = pairs.select(F.col("id_b").alias("doc_id"))
    if dd.broadcast_drop_list_ok(docs.count()):
        dropped = F.broadcast(dropped)
    return (
        docs.join(dropped, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )


_CHUNK_SIZE = 200
_CHUNK_STEP = 180


@query(
    "txt_chunk_documents",
    f"SELECT doc_id, CAST((start - 1) // {_CHUNK_STEP} AS BIGINT) AS chunk_idx, "
    f"substr(text, start, {_CHUNK_SIZE}) AS chunk "
    f"FROM (SELECT doc_id, text, unnest(range(1, greatest(len(text), 1) + 1, "
    f"{_CHUNK_STEP})) AS start FROM documents)",
    doc="Context-window chunking: fixed-size character chunks "
    f"({_CHUNK_SIZE} chars, {_CHUNK_SIZE - _CHUNK_STEP} overlap) via a "
    "map-side sequence+explode — zero shuffle, the standard pre-embedding "
    "splitter for a training/RAG corpus. Empty docs emit one empty chunk "
    "(greatest(len,1)) so no document silently disappears.",
)
def txt_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("text"), F.lit(1)),
                    F.lit(_CHUNK_STEP),
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / F.lit(_CHUNK_STEP)).cast("long").alias("chunk_idx"),
            F.expr(f"substring(text, start, {_CHUNK_SIZE})").alias("chunk"),
        )
    )


def _sq8_deq_duck(x: str) -> str:
    """Dequantize-through-int8-grid SQL for a scale column ``sc`` in scope
    — THE single oracle-side source of the pinned SQ8 quantizer, shared
    by sim_embedding_quantize and sim_sq8_topk (the Spark twins are
    similarity.sq8_scale / sq8_dequantize)."""
    return f"floor({x} * sc + 0.5) / sc"


@query(
    "sim_embedding_quantize",
    "WITH q AS (SELECT label, e AS v, "
    "list_max(list_transform(e, x -> abs(x))) AS amax "
    "FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings)), "
    "s AS (SELECT label, v, CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END AS sc "
    "FROM q), "
    "err AS (SELECT label, list_max(list_transform(v, x -> "
    f"abs(x - {_sq8_deq_duck('x')}))) AS max_abs_err, "
    "sqrt(list_sum(list_transform(v, x -> "
    f"pow(x - {_sq8_deq_duck('x')}, 2))) / len(v)) AS rmse FROM s) "
    "SELECT label, count(*) AS n, round(avg(rmse), 6) AS avg_rmse, "
    "round(max(max_abs_err), 6) AS worst_abs_err FROM err GROUP BY label",
    doc="Symmetric int8 scalar quantization of the embedding column with "
    "per-label reconstruction-error accounting (avg RMSE, worst abs error) "
    "— the compression sanity check before shipping a quantized ANN index. "
    "Pure map-side array expressions (transform/aggregate), one tiny agg; "
    "rounding pinned as floor(x+0.5) so both engines quantize bit-"
    "identically.",
)
def sim_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sc = sim.sq8_scale(v)
    deq = lambda x: F.floor(x * F.col("sc") + F.lit(0.5)) / F.col("sc")  # noqa: E731
    errs = F.transform(F.col("v"), lambda x: F.abs(x - deq(x)))
    sq = F.transform(F.col("v"), lambda x: F.pow(x - deq(x), F.lit(2.0)))
    per_vec = (
        e.select("label", v.alias("v"), sc.alias("sc"))
        .select(
            "label",
            F.array_max(errs).alias("max_abs_err"),
            F.sqrt(
                F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x) / F.size("v")
            ).alias("rmse"),
        )
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("rmse"), 6).alias("avg_rmse"),
        F.round(F.max("max_abs_err"), 6).alias("worst_abs_err"),
    )


@query(
    "rel_heavy_hitters",
    "WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type), "
    "t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c) "
    "SELECT event_type, CAST(n AS BIGINT) AS n, round(n / tot, 6) AS share "
    "FROM c, t WHERE n * 8 > tot",
    doc="Frequent-items / heavy-hitters: event types holding >1/8 of "
    "traffic. The 100 TB shape: full pre-aggregation (map-side partials) "
    "to a |distinct types|-sized table, then the scalar total joins back "
    "as a broadcast 1-row aggregate — no second scan, no driver hop. The "
    "exact-threshold twin of a Misra-Gries/count-min sketch pass.",
)
def rel_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("tot"))
    return (
        c.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * 8 > F.col("tot"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("tot"), 6).alias("share"),
        )
    )


@query(
    "evt_user_gap_stats",
    "WITH g AS (SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) "
    "OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us FROM events), "
    "ug AS (SELECT user_id, CAST(sum(gap_us) AS BIGINT) // count(*) AS avg_gap_us "
    "FROM g WHERE gap_us IS NOT NULL GROUP BY user_id) "
    "SELECT CASE WHEN avg_gap_us < 3600000000 THEN 'lt_1h' "
    "WHEN avg_gap_us < 21600000000 THEN 'lt_6h' "
    "WHEN avg_gap_us < 86400000000 THEN 'lt_1d' ELSE 'ge_1d' END AS gap_band, "
    "count(*) AS n_users FROM ug GROUP BY gap_band",
    doc="Inter-event gap profile: per-user average gap via one keyed "
    "window (lag over event time), banded into an engagement histogram. "
    "Banding uses exact integer microsecond division (sum BIGINT // n) so "
    "no float summation order can flip a boundary across engines or "
    "cluster sizes. One shuffle on user_id, then a 4-row agg.",
)
def evt_user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    ug = gaps.groupBy("user_id").agg(
        F.expr("sum(gap_us) div count(*)").alias("avg_gap_us")
    )
    band = (
        F.when(F.col("avg_gap_us") < 3_600_000_000, "lt_1h")
        .when(F.col("avg_gap_us") < 21_600_000_000, "lt_6h")
        .when(F.col("avg_gap_us") < 86_400_000_000, "lt_1d")
        .otherwise("ge_1d")
    )
    return ug.groupBy(band.alias("gap_band")).agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "dq_null_profile",
    " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
        f"count(*) - count({c}) AS n_null, "
        f"count(DISTINCT {c}) AS n_distinct FROM orders"
        for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                  "o_orderdate", "o_orderpriority")
    ),
    doc="Data-quality column profile of a table in ONE scan: per-column "
    "null and distinct counts computed as a single multi-aggregate pass, "
    "reshaped to long form map-side (the oracle re-scans per column; at "
    "100 TB the single-pass shape is the point). Companion to the "
    "operators/quality.py expectation checks.",
)
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"dist_{c}"))
    wide = o.agg(*aggs)
    stack = ", ".join(f"'{c}', null_{c}, dist_{c}" for c in cols)
    return wide.selectExpr(
        "n_rows", f"stack({len(cols)}, {stack}) AS (col_name, n_null, n_distinct)"
    ).select("col_name", "n_rows", "n_null", "n_distinct")


@query(
    "rel_approx_percentile_check",
    "SELECT l_returnflag, "
    "quantile_cont(CAST(round(l_extendedprice * 100, 0) AS BIGINT), 0.5) "
    "AS exact_p50_cents, "
    "TRUE AS within_5pct FROM lineitem GROUP BY l_returnflag",
    doc="approx_percentile (t-digest/GK sketch path for 100 TB quantiles) "
    "checked the same way as rel_approx_distinct: the oracle pins the "
    "exact interpolated median (quantile_cont == Spark percentile), and "
    "the sketch estimate is asserted within 5% of it — drift flips "
    "within_5pct and fails the hash compare. The median is interpolated "
    "over INTEGER CENTS: a + (b-a)*0.5 over integers is exact in binary "
    "FP in both engines, where round(median_dollars, 2) sat one ulp "
    "apart at a half-cent boundary (r8 parity fix at sf0.001).",
)
def rel_approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_cents", F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    )
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(_cents, 0.5)").alias("exact_p50_cents"),
        (
            F.abs(
                F.expr("approx_percentile(_cents, 0.5, 1000)")
                - F.expr("percentile(_cents, 0.5)")
            )
            <= 0.05 * F.expr("percentile(_cents, 0.5)")
        ).alias("within_5pct"),
    )


@query(
    "mm_gif_frames",
    # with_gif_animation_content: nf = id%4+2 frames of (id%6+2)x(id%3+2),
    # frame f index at p = ((id + p + 7f)*41) % 251, palette (i,2i,3i);
    # every 2nd frame sampled.
    "WITH d AS (SELECT doc_id, doc_id % 4 + 2 AS nf, doc_id % 6 + 2 AS w, "
    "doc_id % 3 + 2 AS h FROM documents), "
    "f AS (SELECT doc_id, nf, w, h, unnest(range(0, nf, 2)) AS fi FROM d), "
    "g AS (SELECT range AS p FROM range(0, 28)) "
    "SELECT doc_id, nf::BIGINT AS n_frames, fi::BIGINT AS frame_idx, "
    "w::BIGINT AS width, h::BIGINT AS height, "
    "round(sum(((doc_id + p + 7*fi) * 41) % 251) / (w*h), 6) AS mean_r, "
    "round(sum((2 * (((doc_id + p + 7*fi) * 41) % 251)) % 256) / (w*h), 6) "
    "AS mean_g, "
    "round(sum((3 * (((doc_id + p + 7*fi) * 41) % 251)) % 256) / (w*h), 6) "
    "AS mean_b "
    "FROM f JOIN g ON g.p < w * h GROUP BY doc_id, nf, fi, w, h",
    doc="REAL animated-GIF frame sampling (multimodal.py gif_frames / "
    "gif_frame_features — r11): every frame of a genuine multi-frame "
    "GIF89a (per-frame LZW streams behind GCE/NETSCAPE extensions) "
    "decodes in the Arrow stage, every 2nd frame is kept, and each "
    "sampled frame emits palette-expanded channel means — the decode → "
    "sample → featurize contract a pyav video sampler plugs into, with "
    "the container this sandbox CAN decode end-to-end (frame "
    "composition/disposal is documented out of scope; the surface is "
    "per-stored-frame statistics). The oracle reproduces every sampled "
    "frame's means arithmetically from (doc_id, frame), so one wrong "
    "byte in any frame's LZW stream breaks the hash.",
)
def mm_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return mm.gif_frame_features(
        mm.with_gif_animation_content(docs), every_n=2
    )


@query(
    "mm_gif_composed",
    # with_gif_composed_content: nf = id%3+2 frames on a (id%5+4)x(id%3+3)
    # screen; frame 0 full-screen base ((id+p)*41)%249 disposal 1; frames
    # f>=1 the rect (1,1,w-2,h-2) disposal 2, transparent where
    # (id+q+f)%3==0 else ((id+q+7f)*41)%249. Rendered canvas: outside the
    # rect always base; frame 1 holes show BASE; frame>=2 holes BLACK
    # (v = -1 marker).
    "WITH d AS (SELECT doc_id, doc_id % 3 + 2 AS nf, doc_id % 5 + 4 AS w, "
    "doc_id % 3 + 3 AS h FROM documents), "
    "f AS (SELECT doc_id, nf, w, h, unnest(range(0, nf)) AS fi FROM d), "
    "g AS (SELECT range AS p FROM range(0, 40)), "
    "px AS (SELECT doc_id, nf, w, h, fi, p, p % w AS x, p // w AS y "
    "FROM f JOIN g ON g.p < w * h), "
    "vv AS (SELECT doc_id, nf, w, h, fi, CASE "
    "WHEN fi = 0 OR x < 1 OR x > w - 2 OR y < 1 OR y > h - 2 "
    "THEN ((doc_id + p) * 41) % 249 "
    "WHEN (doc_id + (x - 1) + (y - 1) * (w - 2) + fi) % 3 = 0 "
    "THEN CASE WHEN fi = 1 THEN ((doc_id + p) * 41) % 249 ELSE -1 END "
    "ELSE ((doc_id + (x - 1) + (y - 1) * (w - 2) + 7 * fi) * 41) % 249 "
    "END AS v FROM px) "
    "SELECT doc_id, nf::BIGINT AS n_frames, fi::BIGINT AS frame_idx, "
    "w::BIGINT AS width, h::BIGINT AS height, "
    "round(sum(CASE WHEN v < 0 THEN 0 ELSE v END) / (w * h), 6) AS mean_r, "
    "round(sum(CASE WHEN v < 0 THEN 0 ELSE (2 * v) % 256 END) / (w * h), 6) "
    "AS mean_g, "
    "round(sum(CASE WHEN v < 0 THEN 0 ELSE (3 * v) % 256 END) / (w * h), 6) "
    "AS mean_b FROM vv GROUP BY doc_id, nf, fi, w, h",
    doc="GIF frame COMPOSITION (multimodal.py gif_frames(composed=True) / "
    "encode_gif_animation_frames, VERDICT r11 #5): animated GIFs whose "
    "frames are partial rects with disposal methods and transparency "
    "holes render onto a persistent canvas — per-frame means of the "
    "RENDERED animation differ from per-stored-frame means "
    "(mm_gif_frames). The fixture exercises all three supported "
    "semantics in every blob: disposal 1 persistence (the full-screen "
    "base shows outside the rect forever), transparent-index "
    "passthrough (frame 1's holes show the still-intact base) and "
    "disposal 2 restore-to-background (frame >= 2's holes are black). "
    "The oracle reproduces every rendered pixel arithmetically, so a "
    "compositor that forgets to clear the rect, clears the wrong rect, "
    "or draws transparent pixels breaks the hash. Disposal 3 "
    "(restore-to-previous) is also supported — one saved canvas copy, "
    "pytest-pinned; reserved disposals 4-7 raise loudly.",
)
def mm_gif_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return mm.gif_frame_features(
        mm.with_gif_composed_content(docs), every_n=1, composed=True
    )


@query(
    "mm_frame_sample",
    "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len, "
    "CAST(unnest(range(0, greatest(strlen(text) // 1000 + 1, 1), 30)) AS BIGINT) "
    "AS frame_idx FROM documents",
    doc="Video frame-sampling plumbing (multimodal.py frame_sample_stub): "
    "every-30th-frame index expansion from byte-length metadata — the "
    "explode-shaped contract a real pyav frame sampler plugs into. "
    "Map-side sequence+explode over opaque binary metadata, zero shuffle; "
    "text bytes stand in for media blobs (with_binary_content).",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    assets = mm.with_binary_content(docs.select("doc_id", "text"))
    return mm.frame_sample_stub(assets, every_n=30).select(
        "doc_id", "byte_len", F.col("frame_idx").cast("long").alias("frame_idx")
    )


@query(
    "evt_retention_cohorts",
    "WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week "
    "FROM events GROUP BY user_id), "
    "a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events) "
    "SELECT f.cohort_week, "
    "CAST(datediff('day', f.cohort_week, a.active_week) // 7 AS BIGINT) AS week_offset, "
    "count(*) AS n_users FROM a JOIN f USING (user_id) "
    "GROUP BY f.cohort_week, week_offset",
    doc="Weekly cohort retention matrix: users bucketed by first-active "
    "week, counted per (cohort, week-offset) — the standard engagement "
    "triangle. Two aggregations + one key join; the cohort table is "
    "|users|-sized and the offset is exact integer day arithmetic "
    "(date_trunc week is ISO-Monday on both engines).",
)
def evt_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        active.join(first, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "dd_lsh_band_skew",
    "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " AS toks FROM documents), "
    "sh_t AS (SELECT doc_id, " + _SHINGLES_DUCK + " AS sh FROM t), "
    "h_t AS (SELECT doc_id, sh, " + _SH_HASH_DUCK + " AS hs FROM sh_t), "
    "sig AS (SELECT doc_id, " + _minhash_cols_duck(16) + " FROM h_t), "
    "b AS (" + " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, sha256({concat}) AS bhash FROM sig".format(
            b=b, concat=" || '_' || ".join(f"mh_{b * 4 + r}::VARCHAR" for r in range(4))
        )
        for b in range(4)
    ) + "), "
    "bs AS (SELECT band, bhash, count(*) AS n FROM b GROUP BY band, bhash) "
    "SELECT band, count(*) AS n_buckets, CAST(max(n) AS BIGINT) AS max_bucket, "
    "CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs "
    "FROM bs GROUP BY band",
    doc="LSH bucket-skew diagnostic: per band, the bucket count, the "
    "largest bucket, and the candidate-pair mass sum(n·(n−1)/2) — the "
    "quantity that decides whether a banded self-join is safe or needs "
    "salting/AQE skew splitting at 100 TB. Runs ahead of any banded "
    "dedup as a cheap pre-flight (one agg over the band table).",
)
def dd_lsh_band_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sig = dd.with_minhash_signature(docs, "text", 16).localCheckpoint(eager=False)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.sha2(
                F.concat_ws("_", *[F.col(f"mh_{b * 4 + r}") for r in range(4)]), 256
            ).alias("bhash"),
        )
        for b in range(4)
    ]
    bands = sig.select(F.explode(F.array(*band_cols)).alias("bk")).select(
        "bk.band", "bk.bhash"
    )
    bs = bands.groupBy("band", "bhash").agg(F.count(F.lit(1)).alias("n"))
    return bs.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.expr("n * (n - 1) div 2")).alias("candidate_pairs"),
    )


@query(
    "sim_label_centroid_pairs",
    "WITH u AS (SELECT label, generate_subscripts(embedding, 1) AS idx, "
    "unnest(embedding) AS x FROM embeddings), "
    "c AS (SELECT label, idx, avg(x) AS m FROM u GROUP BY label, idx), "
    "carr AS (SELECT label, list(m ORDER BY idx) AS cv FROM c GROUP BY label) "
    "SELECT a.label AS label_a, b.label AS label_b, "
    "round(list_dot_product(a.cv, b.cv) / "
    "(sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv))), 6) "
    "AS centroid_cos FROM carr a JOIN carr b ON a.label < b.label",
    doc="Label-confusability map: pairwise cosine between label centroids "
    "(upper triangle). The pairwise step runs on the |labels|-sized "
    "centroid table — a deliberate, bounded cartesian over an aggregate, "
    "never over the corpus (contrast: the corpus-level path is banded).",
)
def sim_label_centroid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("m"))
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    ).localCheckpoint(eager=False)
    a = carr.select(F.col("label").alias("label_a"), F.col("cv").alias("cva"))
    b = carr.select(F.col("label").alias("label_b"), F.col("cv").alias("cvb"))
    cos = sim.dot(F.col("cva"), F.col("cvb")) / (
        F.sqrt(sim.dot(F.col("cva"), F.col("cva")))
        * F.sqrt(sim.dot(F.col("cvb"), F.col("cvb")))
    )
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", F.round(cos, 6).alias("centroid_cos"))
    )


@query(
    "evt_salted_agg",
    "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value, "
    "CAST(min(user_id) AS BIGINT) AS min_user FROM events GROUP BY event_type",
    doc="Skew-safe two-phase aggregation (operators/skew.salted_agg): "
    "phase 1 groups by (key, salt) so a hot key fans across ``buckets`` "
    "reducers, phase 2 re-aggregates the partials — algebraically "
    "identical to the plain GROUP BY the oracle runs (count re-aggregates "
    "as sum). The plan insurance for power-law keys at 100 TB when AQE's "
    "skew split can't kick in (e.g. pre-AQE stages or hash aggregation).",
)
def evt_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={"n": "count(1)", "total_value": "sum(value)", "min_user": "min(user_id)"},
        buckets=8,
    )
    return out.select(
        "event_type",
        "n",
        F.round("total_value", 2).alias("total_value"),
        F.col("min_user").cast("long").alias("min_user"),
    )


@query(
    "evt_salted_latest",
    "SELECT event_id, ts, user_id, event_type, value, props FROM events "
    "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1",
    doc="Skew-safe latest-state: the algebraic two-phase max(struct(ts, "
    "tiebreak, rest)) twin of wm_latest_state's window (operators/skew.py "
    "salted_latest). Identical winners — the oracle is the same QUALIFY — "
    "but a hot key reduces map-side across salt buckets instead of "
    "serializing into one task's sort (15.6x at 50M rows with a 50%-hot "
    "key, SCALE_NOTES).",
)
def evt_salted_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.skew import salted_latest

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    return salted_latest(ev, "user_id", "ts", "event_id", buckets=8)


@query(
    "evt_incremental_rollup",
    "SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value, "
    "CAST(min(epoch_us(ts)) AS BIGINT) AS first_us, "
    "CAST(max(epoch_us(ts)) AS BIGINT) AS last_us "
    "FROM events GROUP BY event_type",
    doc="Continuously-maintained aggregate (operators/rollup.py): the "
    "events stream lands in two batches split at the watermark cut; each "
    "batch is aggregated alone and MERGED into the stored rollup by "
    "re-aggregation (sum→sum, count→sum, min/max→min/max) — cost per "
    "batch scales with batch keys, never table history. The oracle's "
    "single GROUP BY over all rows pins the algebraic-decomposition "
    "invariant: merge(partial(A), partial(B)) == agg(A ∪ B).",
)
def evt_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.rollup import incremental_rollup

    ev = _t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    aggs = {
        "n_events": "count(1)",
        "sum_value": "sum(value)",
        "first_us": "min(ts_us)",
        "last_us": "max(ts_us)",
    }
    cut = F.lit(EVENTS_CUT).cast("timestamp")
    batch1 = ev.filter(F.col("ts") <= cut)
    batch2 = ev.filter(F.col("ts") > cut)
    state = incremental_rollup(None, batch1, ["event_type"], aggs)
    state = incremental_rollup(state, batch2, ["event_type"], aggs)
    return state.select(
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "first_us",
        "last_us",
    )


@query(
    "rel_setops_all",
    "WITH a AS (SELECT event_type, user_id % 100 AS ub FROM events "
    "WHERE event_id % 2 = 0), "
    "b AS (SELECT event_type, user_id % 100 AS ub FROM events "
    "WHERE event_id % 3 = 0) "
    "SELECT 'intersect_all' AS op, event_type, ub, count(*) AS n FROM "
    "(SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY event_type, ub "
    "UNION ALL "
    "SELECT 'except_all', event_type, ub, count(*) FROM "
    "(SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY event_type, ub",
    doc="Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL): "
    "multiplicity-aware overlap — min(m_a, m_b) and m_a − m_b copies "
    "respectively — completing the set-op family beyond rel_set_ops' "
    "distinct forms. One shuffle each on the full row key.",
)
def rel_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_type", (F.col("user_id") % 100).alias("ub"), "event_id")
    a = base.filter(F.col("event_id") % 2 == 0).drop("event_id")
    b = base.filter(F.col("event_id") % 3 == 0).drop("event_id")
    inter = (
        a.intersectAll(b)
        .groupBy("event_type", "ub")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "event_type", "ub", "n")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("event_type", "ub")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "event_type", "ub", "n")
    )
    return inter.unionByName(exc)


@query(
    "wm_scd2_intervals",
    "SELECT user_id, ts AS valid_from, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to, "
    "event_type AS state, "
    "CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "IS NULL THEN TRUE ELSE FALSE END AS is_current "
    "FROM events WHERE event_id % 20 = 0",
    doc="SCD Type-2 dimension build: each history row becomes a "
    "[valid_from, valid_to) interval via one lead() window per key; the "
    "open interval is the current state. The warehouse pattern the "
    "reference's history table implies (staging_repo.py history append "
    "keeps all versions) — this derives the queryable interval form in "
    "one keyed shuffle, no self-join.",
)
def wm_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.col("event_type").alias("state"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "rel_filtered_agg",
    "SELECT l_returnflag, count(*) AS n_all, "
    "count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted, "
    "round(sum(l_extendedprice) FILTER (WHERE l_quantity >= 25), 2) AS big_qty_rev, "
    "CAST(count(*) FILTER (WHERE l_tax = 0) AS BIGINT) AS n_taxfree "
    "FROM lineitem GROUP BY l_returnflag",
    doc="Conditional aggregation via the SQL FILTER clause — one scan, one "
    "agg, N conditions (the alternative CASE-WHEN-inside-agg compiles to "
    "the same plan; FILTER is the declarative form both engines share).",
)
def rel_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.round(
            F.sum(F.when(F.col("l_quantity") >= 25, F.col("l_extendedprice"))), 2
        ).alias("big_qty_rev"),
        F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
    )


@query(
    "rel_fuzzy_name_match",
    "SELECT a.c_custkey AS key_a, b.c_custkey AS key_b, "
    "CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist "
    "FROM customer a JOIN customer b "
    "ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16) "
    "AND a.c_custkey < b.c_custkey "
    "WHERE levenshtein(a.c_name, b.c_name) <= 1 AND a.c_custkey < 200",
    doc="Entity-resolution fuzzy match: prefix-blocked self-join + "
    "Levenshtein verify (edit distance <= 1 within a 16-char name block). "
    "The canonical dedup-join shape for dirty dimension data at scale: "
    "the block key confines the quadratic work exactly like LSH bands "
    "confine near-dup search; the probe side is bounded for oracle duty.",
)
def rel_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    a = c.filter(F.col("c_custkey") < 200).select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    b = c.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("key_a", "key_b", "edit_dist")
    )


@query(
    "dq_daily_volume_anomaly",
    "WITH d AS (SELECT date_trunc('day', ts)::DATE AS day, count(*) AS n "
    "FROM events GROUP BY day), "
    "s AS (SELECT avg(n) AS mu, stddev_samp(n) AS sigma FROM d) "
    "SELECT d.day, CAST(d.n AS BIGINT) AS n, "
    "round((d.n - s.mu) / s.sigma, 4) AS z, "
    "abs(d.n - s.mu) > 2 * s.sigma AS is_anomaly "
    "FROM d, s",
    doc="Data-quality volume anomaly check: daily event counts flagged at "
    "|z| > 2 against the corpus mean/stddev — the freshness/volume alarm "
    "a pipeline run log feeds. Day-level pre-aggregation first (map-side "
    "partials to ~30 rows), then the 1-row stats join back as a broadcast "
    "— same scalar-aggregate pattern as rel_q22/evt_value_winsorize; "
    "never a second scan.",
)
def dq_daily_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    s = d.agg(F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma"))
    return d.crossJoin(F.broadcast(s)).select(
        "day",
        F.col("n").cast("long").alias("n"),
        F.round((F.col("n") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
        (F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sigma")).alias("is_anomaly"),
    )


@query(
    "rel_hll_partial_merge",
    "WITH r AS (SELECT n.n_regionkey AS region, "
    "count(DISTINCT c.c_custkey) AS exact_customers FROM customer c "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY region) "
    "SELECT region, exact_customers, TRUE AS within_5pct FROM r",
    doc="Sketch re-aggregation — the 100 TB incremental-distinct pattern: "
    "per-NATION HyperLogLog sketches (hll_sketch_agg) are UNIONED up to "
    "region level (hll_union_agg) without touching raw rows again — "
    "exactly how a continuously-maintained distinct-count rollup merges "
    "partials across batches/partitions. Checked like rel_approx_distinct: "
    "the oracle pins the exact region-level count and the merged-sketch "
    "estimate must land within 5% (flag flips on drift and fails the "
    "hash compare).",
)
def rel_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    # r13 planlint sweep (4 -> 2): ONE region-keyed exchange up front —
    # hash(region) is a subset of the per-nation sketch key, so the
    # partial-sketch aggregate, the region-level union, the exact-count
    # aggregate AND the final region join all reuse it with no further
    # shuffle. The exact side counts c_custkey plainly: it is customer's
    # primary key (TPC-H contract, one row per key), so count == count
    # distinct without the distinct's second exchange — the sketch side
    # still proves the HLL merge; the exact side is the yardstick.
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_regionkey").alias("region"), "n_nationkey", "c_custkey"
        )
        .repartition("region")
    )
    per_nation = base.groupBy("region", "n_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk")
    )
    merged = per_nation.groupBy("region").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = base.groupBy("region").agg(
        F.count("c_custkey").alias("exact_customers")
    )
    return exact.join(merged, "region").select(
        "region",
        "exact_customers",
        (
            F.abs(F.col("est") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("within_5pct"),
    )


@query(
    "txt_dedup_rate_by_source",
    "SELECT source, count(*) AS n_docs, "
    "count(DISTINCT sha256(text)) AS n_unique, "
    "round(1.0 - count(DISTINCT sha256(text))::DOUBLE / count(*), 6) AS dup_rate "
    "FROM documents GROUP BY source",
    doc="Per-source duplication accounting: exact-hash distinct counts per "
    "provenance bucket — the triage view that decides which sources need "
    "the expensive near-dup pass. One shuffle on (source, hash) for the "
    "distinct, then a tiny per-source agg.",
)
def txt_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2("text", 256)).alias("n_unique"),
        F.round(
            1.0 - F.countDistinct(F.sha2("text", 256)) / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


@query(
    "dd_minhash_estimate_quality",
    "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " AS toks FROM documents), "
    "sh_t AS (SELECT doc_id, " + _SHINGLES_DUCK + " AS sh FROM t), "
    "h_t AS (SELECT doc_id, sh, " + _SH_HASH_DUCK + " AS hs FROM sh_t), "
    "sig AS (SELECT doc_id, sh, " + _minhash_cols_duck(16) + " FROM h_t), "
    "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "(" + " + ".join(
        f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)" for i in range(16)
    ) + ") / 16.0 AS est, "
    "len(list_intersect(a.sh, b.sh))::DOUBLE / "
    "len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS exact_j "
    "FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND a.doc_id < 60) "
    "SELECT count(*) AS n_pairs, round(avg(abs(est - exact_j)), 6) AS mae, "
    "round(max(abs(est - exact_j)), 6) AS worst_abs_err FROM p",
    doc="Sketch-estimator quality accounting: MinHash collision rate "
    "(matching components / 16) IS the Jaccard estimator — this query "
    "measures its MAE and worst error against exact Jaccard over a "
    "bounded pair sample (doc_id < 60, the verifier-bound pattern). The "
    "number that justifies band/permutation sizing before trusting the "
    "sketch at 100 TB.",
)
def dd_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sig = dd.with_minhash_signature(
        docs, "text", 16, keep_shingles=True, drop_source=True
    ).localCheckpoint(eager=False)
    # r14: the ~n_probe x n_docs exact-Jaccard audit intersects shingle
    # arrays per pair — hashed (long) arrays cut the per-pair string
    # hashing exactly as in prefix_jaccard_join, gated on the same
    # vocabulary-injectivity proof with a bit-identical string fallback.
    chk = sig.select(F.explode("__shingles").alias("s")).agg(
        F.countDistinct("s").alias("n"),
        F.countDistinct(F.xxhash64("s")).alias("h"),
    ).collect()[0]
    if chk.n == chk.h:
        sig = sig.withColumn(
            "__shingles", F.transform("__shingles", lambda s: F.xxhash64(s))
        )
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        F.col("__shingles").alias("sh_a"),
        *[F.col(f"mh_{i}").alias(f"a_mh_{i}") for i in range(16)],
    ).filter(F.col("id_a") < 60)
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        F.col("__shingles").alias("sh_b"),
        *[F.col(f"mh_{i}").alias(f"b_mh_{i}") for i in range(16)],
    )
    matches = sum(
        F.when(F.col(f"a_mh_{i}") == F.col(f"b_mh_{i}"), 1).otherwise(0)
        for i in range(16)
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("est", matches / F.lit(16.0))
        .withColumn("exact_j", dd.jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(F.abs(F.col("est") - F.col("exact_j"))), 6).alias("mae"),
        F.round(F.max(F.abs(F.col("est") - F.col("exact_j"))), 6).alias(
            "worst_abs_err"
        ),
    )


@query(
    "rel_share_of_total",
    "WITH n AS (SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) "
    "AS revenue FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation na ON c.c_nationkey = na.n_nationkey GROUP BY n_name), "
    "t AS (SELECT sum(revenue) AS tot FROM n) "
    "SELECT n_name, revenue, round(revenue / tot, 6) AS share "
    "FROM n, t",
    doc="Percent-of-total (ratio_to_report): per-nation revenue share. "
    "Deliberately NOT `sum() OVER ()` — an empty-partition window funnels "
    "every row through ONE reducer at scale; the safe plan aggregates to "
    "the |nations|-sized table first, then joins the 1-row total back as "
    "a broadcast (same scalar-aggregate pattern as q22/winsorize).",
)
def rel_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(na), c.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    tot = rev.agg(F.sum("revenue").alias("tot"))
    return rev.crossJoin(F.broadcast(tot)).select(
        "n_name", "revenue", F.round(F.col("revenue") / F.col("tot"), 6).alias("share")
    )


@query(
    "rel_argmax_agg",
    "SELECT event_type, user_id AS top_user, round(mv, 2) AS max_value FROM ("
    "SELECT event_type, user_id, "
    "max(value) OVER (PARTITION BY event_type) AS mv, "
    "row_number() OVER (PARTITION BY event_type "
    "ORDER BY value DESC, event_id DESC) AS rn FROM events) WHERE rn = 1",
    doc="argmax aggregate (Spark max_by): the row-valued max — one hash "
    "aggregation, no window, no self-join (the window formulation the "
    "oracle uses costs a full sort shuffle for the same answer). Ties on "
    "value break on event_id via an integer-exact struct ordering key "
    "(structs compare lexicographically in max_by), not a float "
    "perturbation — exact at any value magnitude (advisor r2: "
    "value + event_id/1e12 loses the tie-break above |value| ~ 2^12).",
)
def rel_argmax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max_by("user_id", F.struct(F.col("value"), F.col("event_id"))).alias(
            "top_user"
        ),
        F.round(F.max("value"), 2).alias("max_value"),
    )


@query(
    "evt_calendar_fill",
    "WITH d AS (SELECT date_trunc('day', ts)::DATE AS day, "
    "count(*) AS n FROM events WHERE event_type = 'purchase' GROUP BY day), "
    "bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d), "
    "cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE "
    "AS day FROM bounds) "
    "SELECT cal.day, coalesce(d.n, 0) AS n_purchases "
    "FROM cal LEFT JOIN d USING (day)",
    doc="Calendar densification (gap fill): a generated day spine joined "
    "against sparse per-day counts so missing days surface as explicit "
    "zeros — required before any rolling-window or anomaly pass that "
    "assumes regular cadence. The spine generates from the 1-row bounds "
    "aggregate (sequence + explode), so the only table-sized work is the "
    "initial pre-aggregation.",
)
def evt_calendar_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    d = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    return cal.join(d, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).alias("n_purchases")
    )


@query(
    "wm_change_compress",
    "SELECT event_id, user_id, ts, event_type FROM ("
    "SELECT event_id, user_id, ts, event_type, "
    "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev "
    "FROM events) WHERE prev IS NULL OR event_type <> prev",
    doc="Change compression (CDC run-length dedup): keep only rows where "
    "the tracked value actually CHANGED from the previous row per key — "
    "the compaction that turns an update firehose into a minimal SCD "
    "change stream before history lands. One lag() window per key; the "
    "streaming twin is the applyInPandasWithState newer-wins change "
    "stream (streaming/stateful.py).",
)
def wm_change_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    return (
        ev.withColumn("prev", prev)
        .filter(F.col("prev").isNull() | (F.col("event_type") != F.col("prev")))
        .select("event_id", "user_id", "ts", "event_type")
    )


@query(
    "dd_substring_dup_spans",
    "WITH t AS (SELECT doc_id, text, CASE WHEN len(text) >= 40 "
    "THEN (len(text) - 40) // 10 + 1 ELSE 0 END AS nw FROM documents), "
    "w AS (SELECT doc_id, unnest(list_transform(range(0, nw), "
    "k -> substr(text, (k * 10 + 1)::INTEGER, 40))) AS span FROM t), "
    "c AS (SELECT span, count(*) AS n FROM w GROUP BY span), "
    "d AS (SELECT w.doc_id, count(*)::BIGINT AS n_windows, "
    "sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows "
    "FROM w JOIN c USING (span) GROUP BY w.doc_id) "
    "SELECT t.doc_id, COALESCE(d.n_windows, 0)::BIGINT AS n_windows, "
    "COALESCE(d.n_dup_windows, 0)::BIGINT AS n_dup_windows, "
    "round(COALESCE(d.n_dup_windows, 0)::DOUBLE / "
    "greatest(COALESCE(d.n_windows, 0), 1)::DOUBLE, 6) AS dup_ratio "
    "FROM t LEFT JOIN d ON d.doc_id = t.doc_id",
    headline=True,
    doc="Cross-document substring duplication (the ExactSubstr signal from "
    "public training-data dedup literature): 40-char spans every 10 chars, "
    "a span occurring >1 time anywhere in the corpus is duplicated text — "
    "catches verbatim boilerplate/licenses that token-level metrics miss "
    "(dedup.py substring_dup_spans). One shuffle on the span key, never "
    "doc x doc; hash_windows=True shrinks the shuffle key to 8 bytes at "
    "scale (registry keeps the exact-string default for the oracle).",
)
def dd_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.substring_dup_spans(docs, window=40, stride=10)


_SUBSTR_RANKED_DUCK = (
    "WITH t AS (SELECT doc_id, text, CASE WHEN len(text) >= 40 "
    "THEN (len(text) - 40) // 10 + 1 ELSE 0 END AS nw FROM documents), "
    "w AS (SELECT doc_id, unnest(range(0, nw)) AS k, text FROM t), "
    "s AS (SELECT doc_id, k, substr(text, (k * 10 + 1)::INTEGER, 40) AS span "
    "FROM w), "
    "r AS (SELECT doc_id, k, row_number() OVER "
    "(PARTITION BY span ORDER BY doc_id, k) AS rn FROM s)"
)


@query(
    "dd_substring_dedup_keep",
    _SUBSTR_RANKED_DUCK + ", "
    "d AS (SELECT doc_id, count(*)::BIGINT AS n_windows, "
    "sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_removable "
    "FROM r GROUP BY doc_id) "
    "SELECT t.doc_id, COALESCE(d.n_windows, 0)::BIGINT AS n_windows, "
    "COALESCE(d.n_removable, 0)::BIGINT AS n_removable, "
    "round(COALESCE(d.n_removable, 0)::DOUBLE / "
    "greatest(COALESCE(d.n_windows, 0), 1)::DOUBLE, 6) AS removable_ratio "
    "FROM t LEFT JOIN d USING (doc_id) "
    "WHERE round(COALESCE(d.n_removable, 0)::DOUBLE / "
    "greatest(COALESCE(d.n_windows, 0), 1)::DOUBLE, 6) < 0.5",
    doc="Substring-dedup ACTION, drop flavor (dedup.py "
    "substring_dedup_keep — completes ExactSubstr the way "
    "sim_semantic_keep completed SemDeDup): every span occurrence ranks "
    "by (doc_id, offset), rank 1 is the canonical copy, and a doc is "
    "dropped when >= 50% of its windows are non-canonical repeats. "
    "Ownership-aware, so one representative of each duplicated region "
    "always survives — thresholding the symmetric dup_ratio would drop "
    "BOTH copies. Same single span-key shuffle as the signal query plus "
    "one rank window.",
)
def dd_substring_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.substring_dedup_keep(docs, cutoff=0.5, window=40, stride=10)


@query(
    "dd_substring_dedup_trim",
    _SUBSTR_RANKED_DUCK + ", "
    "offs AS (SELECT doc_id, list(k ORDER BY k) AS ks FROM r WHERE rn >= 2 "
    "GROUP BY doc_id) "
    "SELECT t.doc_id, CASE WHEN offs.ks IS NULL THEN t.text ELSE "
    "list_aggregate(list_transform(range(0, len(t.text)), i -> "
    "CASE WHEN len(list_filter(offs.ks, k -> i >= k*10 AND i < k*10 + 40)) > 0 "
    "THEN '' ELSE substr(t.text, (i+1)::INTEGER, 1) END), 'string_agg', '') "
    "END AS text FROM t LEFT JOIN offs USING (doc_id)",
    doc="Substring-dedup ACTION, trim flavor — the real ExactSubstr "
    "behavior (dedup.py substring_dedup_trim): duplicated character "
    "ranges are REMOVED from every non-canonical occurrence and the "
    "spliced text re-emitted, so each verbatim region survives exactly "
    "once corpus-wide while the docs themselves are kept. Removable "
    "windows map to char intervals [k*10, k*10+40), overlapping "
    "intervals merge, kept segments concatenate in order. The full "
    "trimmed text of all 500 docs is value-hashed cross-engine — the "
    "splice kernel (Arrow-batched interval merge) against DuckDB's "
    "per-char lambda reconstruction. One span-key shuffle + a bounded "
    "per-doc offset list; never doc x doc.",
)
def dd_substring_dedup_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.substring_dedup_trim(docs, window=40, stride=10)


def _projection_matrix_duck(out_dim: int = 16, dim: int = 64, table: int = 100) -> str:
    """proj_p columns as inlined-literal dot products — the same md5-seeded
    hyperplanes sim.random_projection closes over, so each projected value
    is bit-identical cross-engine before the shared 6-dp rounding
    (list_dot_product accumulates left-to-right, matching the kernel's
    dim-sequential loop — the lsh_bucket precedent)."""
    cols = []
    for p in range(out_dim):
        plane = ", ".join(repr(v) for v in sim._hyperplane(table, p, dim))
        cols.append(
            f"round(COALESCE(list_dot_product(embedding::DOUBLE[], [{plane}]), "
            f"0.0), 6) AS proj_{p}"
        )
    return ", ".join(cols)


@query(
    "sim_random_projection",
    f"SELECT vec_id, {_projection_matrix_duck(16, 64, 100)} FROM embeddings",
    doc="Johnson-Lindenstrauss random projection 64 -> 16 dims via "
    "deterministic md5-seeded hyperplanes (similarity.py random_projection "
    "— same family as the LSH planes, distinct table id). The cheap-dims "
    "path for embedding pipelines: 4x narrower vectors for candidate "
    "generation, full vectors only for re-rank. Pure map stage, no "
    "shuffle; scalar proj_* outputs; dim-sequential accumulation makes "
    "all 16 x 500 projected values hash-checkable cross-engine.",
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return sim.random_projection(emb, out_dim=16, table=100)


def _projected_topk_duck(out_dim: int = 16, cand: int = 50, k: int = 10) -> str:
    qsel = ", ".join(f"proj_{p} AS q_{p}" for p in range(out_dim))
    pd2 = " + ".join(
        f"(P.proj_{p} - qp.q_{p}) * (P.proj_{p} - qp.q_{p})" for p in range(out_dim)
    )
    return (
        f"WITH P AS (SELECT vec_id, {_projection_matrix_duck(out_dim, 64, 100)} "
        "FROM embeddings), "
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
        "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm "
        "FROM embeddings), "
        f"qp AS (SELECT vec_id AS query_id, {qsel} FROM P WHERE vec_id < 5), "
        f"sc AS (SELECT qp.query_id, P.vec_id, round({pd2}, 6) AS proj_dist "
        "FROM P CROSS JOIN qp), "
        "cand AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, "
        "row_number() OVER (PARTITION BY query_id ORDER BY proj_dist, vec_id) AS rn "
        f"FROM sc) WHERE rn <= {cand}), "
        "rr AS (SELECT c.query_id, c.vec_id, "
        "round(list_dot_product(ce.v, qe.v) / (ce.nrm * qe.nrm), 6) AS cosine_sim "
        "FROM cand c JOIN e ce ON ce.vec_id = c.vec_id "
        "JOIN e qe ON qe.vec_id = c.query_id) "
        "SELECT query_id, vec_id, cosine_sim FROM (SELECT query_id, vec_id, "
        "cosine_sim, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine_sim DESC, vec_id) AS rn FROM rr) "
        f"WHERE rn <= {k}"
    )


@query(
    "sim_projected_topk",
    _projected_topk_duck(16, 50, 10),
    doc="Two-stage ANN on cheap dims: top-50 candidates per query by L2 in "
    "the 16-dim JL projection (4x narrower scan rows), exact cosine "
    "re-rank on full vectors for the final top-10 (similarity.py "
    "projected_rerank_topk). Both ranking stages order by (6dp-rounded "
    "score, id), so the whole two-stage result hash-checks against DuckDB "
    "recomputing the same projections from the same md5 hyperplane "
    "literals. At 100 TB the projected table is the stored scan target; "
    "full vectors are fetched for ~candidates x queries rows only.",
)
def sim_projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.projected_rerank_topk(emb, q, k=10, cand=50, out_dim=16, table=100)


@query(
    "wm_scd2_history",
    "SELECT user_id, event_type, valid_from, valid_to, "
    "CASE WHEN valid_to IS NULL THEN TRUE ELSE FALSE END AS is_current FROM ("
    "SELECT user_id, event_type, ts AS valid_from, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to "
    "FROM (SELECT user_id, event_type, ts, event_id, "
    "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev "
    "FROM events) WHERE prev IS NULL OR event_type <> prev)",
    doc="SCD Type-2 intervals from a NOISY update stream: change-compress "
    "first (lag filter drops consecutive same-state rows), THEN build "
    "[valid_from, valid_to) via lead over the compressed stream — so "
    "intervals mark real state transitions, where the simpler "
    "wm_scd2_intervals versionizes every history row as-is. Two keyed "
    "windows sharing one (user_id) shuffle, ordered identically by "
    "(ts, event_id) on both engines.",
)
def wm_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "event_type", "ts", "event_id", F.lag("event_type").over(w).alias("prev"))
        .filter(F.col("prev").isNull() | (F.col("event_type") != F.col("prev")))
    )
    out = changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return out.withColumn("is_current", F.col("valid_to").isNull())


@query(
    "evt_volume_anomaly",
    "WITH d AS (SELECT date_trunc('day', ts)::DATE AS day, event_type, "
    "count(*)::BIGINT AS n FROM events GROUP BY 1, 2), "
    "w AS (SELECT day, event_type, n, "
    "sum(n) OVER (PARTITION BY event_type "
    "ORDER BY date_diff('day', DATE '1970-01-01', day) "
    "RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)::BIGINT AS s7, "
    "count(n) OVER (PARTITION BY event_type "
    "ORDER BY date_diff('day', DATE '1970-01-01', day) "
    "RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)::BIGINT AS c7 FROM d) "
    "SELECT day, event_type, n, round(s7::DOUBLE / c7, 4) AS trailing_avg, "
    "round(n::DOUBLE * c7 / s7, 4) AS vol_ratio FROM w WHERE c7 > 0",
    doc="Event-volume anomaly signal: each (day, event_type)'s count vs its "
    "own trailing-7-CALENDAR-day mean — a RANGE frame over epoch-day "
    "numbers, so days with zero events correctly thin the baseline "
    "instead of the window silently spanning arbitrary calendar gaps "
    "(the rows-based frame's defect, fixed per ADVICE r6). Exact-integer "
    "sum/count pair divided once (no stddev — engines disagree on "
    "variance summation order). Days with an empty trailing week drop "
    "out (c7=0), matching both engines.",
)
def evt_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    d = d.withColumn("day_num", F.datediff(F.col("day"), F.lit("1970-01-01")))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-7, -1)
    )
    t = d.select(
        "day", "event_type", "n",
        F.sum("n").over(w).alias("s7"),
        F.count("n").over(w).alias("c7"),
    ).filter(F.col("c7") > 0)
    return t.select(
        "day", "event_type", "n",
        F.round(F.col("s7").cast("double") / F.col("c7"), 4).alias("trailing_avg"),
        F.round(F.col("n").cast("double") * F.col("c7") / F.col("s7"), 4).alias("vol_ratio"),
    )


@query(
    "sim_semantic_keep",
    "WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm, "
    f"{_angular_sketch_duck(24)} AS sk FROM embeddings), "
    "pairs AS (SELECT id_a, id_b FROM ("
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    f"round({_PAIR_COS_DUCK}, 6) AS cosine_sim "
    "FROM s a JOIN s b ON a.vec_id < b.vec_id "
    "AND bit_count(xor(a.sk, b.sk)) <= 5) WHERE cosine_sim >= 0.45) "
    "SELECT vec_id FROM embeddings "
    "WHERE vec_id NOT IN (SELECT id_b FROM pairs)",
    doc="Semantic dedup ACTION (SemDeDup-style, public method): from the "
    "sketch-banded near-dup pair set (id_a < id_b), drop every vector "
    "that has a smaller-id neighbor above the cosine threshold — the "
    "deterministic keep-smallest representative rule, applied as one "
    "left-anti join on the pair set's id_b side. Completes the embedding "
    "dedup story: sim_embedding_neardup FINDS, this REMOVES. Same banded "
    "plan (never corpus x corpus) + one anti-join shuffle.",
)
def sim_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    pairs = sim.sketch_banded_neardup(e, n_planes=24, bands=6, band_bits=4)
    drop = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return e.select("vec_id").join(drop, "vec_id", "left_anti")


@query(
    "rel_range_join_binned",
    "WITH camp AS (SELECT event_id AS campaign_id, ts AS start_ts, "
    "ts + INTERVAL 12 HOUR AS end_ts FROM events WHERE event_type = 'purchase' "
    "ORDER BY value DESC, event_id LIMIT 20) "
    "SELECT c.campaign_id, c.start_ts, count(*)::BIGINT AS n_events, "
    "round(sum(e.value), 2) AS window_value "
    "FROM camp c JOIN events e ON e.ts >= c.start_ts AND e.ts < c.end_ts "
    "GROUP BY c.campaign_id, c.start_ts",
    headline=True,
    doc="Point-in-interval range join WITHOUT an equi key: the 20 "
    "highest-value purchases open 12-hour campaign windows, and every "
    "event landing inside any window is attributed to it. A naive "
    "theta-join on two timestamp inequalities degenerates to a nested-"
    "loop cross product at scale; here the time axis is binned to the "
    "hour, each interval EXPLODES into the <=13 hourly bins it spans "
    "(sequence + explode), and events equi-join on their single bin "
    "before the exact containment filter - the standard bin-bucketed "
    "range-join rewrite (what Databricks' range-join hint does under the "
    "hood). Work scales with events x avg-bins-per-interval, never "
    "events x intervals; the interval side is broadcast here, and at "
    "larger interval cardinality the same bin key becomes the shuffle "
    "key. Hot bins (many overlapping windows) are the skew knob: shrink "
    "the bin to rebalance. DuckDB's oracle uses its native IEJoin on the "
    "same inequalities.",
)
def rel_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    camp = (
        ev.filter(F.col("event_type") == "purchase")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(20)
        .select(
            F.col("event_id").alias("campaign_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("end_ts"),
        )
    )
    bins = camp.select(
        "campaign_id",
        "start_ts",
        "end_ts",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "start_ts"),
                F.date_trunc("hour", "end_ts"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bin"),
    )
    evb = ev.select("ts", "value", F.date_trunc("hour", "ts").alias("bin"))
    return (
        evb.join(F.broadcast(bins), "bin")
        .filter((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
        .groupBy("campaign_id", "start_ts")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("window_value"),
        )
    )


@query(
    "evt_markov_transitions",
    "WITH s AS (SELECT event_type AS src, "
    "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst "
    "FROM events) "
    "SELECT src, dst, count(*)::BIGINT AS n_trans, "
    "round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY src), 6) AS p "
    "FROM s WHERE dst IS NOT NULL GROUP BY src, dst",
    doc="First-order Markov transition matrix over per-user event "
    "sequences: one keyed lead() window builds (src, dst) bigrams, one "
    "aggregate counts them, and a tiny window over the |event_types|^2 "
    "matrix row-normalizes to probabilities. The sequence-model "
    "complement of evt_top_paths (which mines specific trigram paths); "
    "the heavy shuffle is the per-user window, the normalization window "
    "runs on <=25 rows.",
)
def evt_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = s.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_trans"))
    wsrc = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.sum("n_trans").over(wsrc), 6
        ).alias("p"),
    )


@query(
    "txt_decontaminate_train",
    "WITH t AS (SELECT doc_id, source, regexp_extract_all(text, '\\S+') AS toks, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS b "
    "FROM documents), "
    "sh AS (SELECT doc_id, b, unnest(list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 1)), "
    "j -> toks[j] || ' ' || toks[j + 1] || ' ' || toks[j + 2] || ' ' || toks[j + 3]"
    "))) AS g FROM t WHERE len(toks) >= 4), "
    "test AS (SELECT DISTINCT g FROM sh WHERE b = 0), "
    "bad AS (SELECT sh.doc_id FROM sh JOIN test USING (g) WHERE sh.b <> 0 "
    "GROUP BY sh.doc_id HAVING count(DISTINCT sh.g) >= 3) "
    "SELECT doc_id, source FROM t WHERE b <> 0 "
    "AND doc_id NOT IN (SELECT doc_id FROM bad)",
    doc="Train/test decontamination ACTION: txt_contamination_check FLAGS "
    "eval docs overlapping train; this applies the standard remedy in the "
    "other direction - drop from the train split every document sharing "
    ">=3 distinct word 4-grams with the held-out split, and return the "
    "surviving train set. Same deterministic hash split; rebuilt r11 "
    "(SCALE_NOTES r11 decon A/B, tools/ab.py; 6 -> 4 exchanges, 1.76x at "
    "sf0.1): the "
    "overlap probe is a SEMI join against the raw test shingle stream — "
    "semi never duplicates, so the test side needs no distinct "
    "aggregate, and shingles_of is already distinct per doc, so "
    "count(*) == countDistinct(g) and the distinct-aggregate expand "
    "machinery drops out. One left-anti join applies the drop; "
    "shingle-less short docs are trivially clean and pass through. "
    "Never doc x doc.",
)
def txt_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 10
    )
    docs = docs.withColumn("b", bucket)
    sh = docs.select("doc_id", "b", F.explode(dd.shingles_of("text", 4)).alias("g"))
    bad = (
        sh.filter(F.col("b") != 0)
        # semi join: no duplication, so the test side skips its distinct
        # aggregate, and (doc_id, g) is unique in sh (shingles_of dedups
        # per doc) so the plain count IS the distinct overlap count
        .join(sh.filter(F.col("b") == 0).select("g"), "g", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= 3)
        .select("doc_id")
    )
    return (
        docs.filter(F.col("b") != 0)
        .join(bad, "doc_id", "left_anti")
        .select("doc_id", "source")
    )


@query(
    "sim_knn_classify",
    "WITH nn AS (SELECT query_id, vec_id FROM ("
    "SELECT query_id, vec_id, "
    "row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn "
    "FROM (SELECT q.vec_id AS query_id, e.vec_id, "
    + _COS_DUCK
    + " AS cosine_sim "
    "FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q)"
    ") WHERE rn <= 11), "
    "flt AS (SELECT * FROM nn WHERE vec_id <> query_id), "
    "votes AS (SELECT flt.query_id, l.label, count(*)::BIGINT AS n_votes "
    "FROM flt JOIN embeddings l ON flt.vec_id = l.vec_id "
    "GROUP BY flt.query_id, l.label) "
    "SELECT query_id, label AS pred_label, n_votes FROM ("
    "SELECT query_id, label, n_votes, row_number() OVER ("
    "PARTITION BY query_id ORDER BY n_votes DESC, label) AS rn FROM votes) "
    "WHERE rn = 1",
    doc="k-NN label classification over the embedding corpus: exact "
    "cosine top-11 per query (the oracle-green cosine_topk kernel), drop "
    "the self-match, majority-vote the 10 neighbors' labels with a "
    "deterministic (votes DESC, label) tiebreak. The standard "
    "label-propagation / auto-labeling primitive for curation pipelines; "
    "riding cosine_topk keeps the shuffle bounded by partitions x k and "
    "the vote aggregate touches only queries x k rows.",
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nn = sim.cosine_topk(emb, queries, k=11).filter(
        F.col("vec_id") != F.col("query_id")
    )
    # r13 planlint sweep (4 -> 2): nn is bounded queries x k by
    # construction (MAX_CLOSURE_QUERIES x 11), so BROADCAST it into the
    # label scan — the corpus-sized side streams map-side — then ONE
    # query_id exchange serves both the vote aggregate (query_id is a
    # subset of its grouping key) and the argmax window.
    votes = (
        emb.select("vec_id", "label")
        .join(F.broadcast(nn.select("query_id", "vec_id")), "vec_id")
        .repartition("query_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), "label")
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )


@query(
    "txt_quality_quantile_filter",
    "WITH q AS (" + _QUALITY_DUCK + "), "
    "j AS (SELECT q.doc_id, d.lang, q.quality_score FROM q "
    "JOIN documents d ON q.doc_id = d.doc_id), "
    "t AS (SELECT lang, quantile_cont(quality_score, 0.5) AS thr "
    "FROM j GROUP BY lang) "
    "SELECT j.doc_id, j.lang, j.quality_score FROM j JOIN t USING (lang) "
    "WHERE j.quality_score >= t.thr",
    doc="Quantile-thresholded curation: keep each document scoring at or "
    "above its LANGUAGE's median quality (per-group adaptive cutoffs - "
    "the standard fix for absolute thresholds over-pruning low-resource "
    "languages). One scan computes features map-side, one tiny agg "
    "derives |langs| thresholds (broadcast back), one filter applies "
    "them. Both engines interpolate the median from identical 6dp-rounded "
    "scores, so the cutoff comparison is bit-stable; at 100 TB the exact "
    "percentile swaps for approx_percentile with the same plan shape.",
)
def txt_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    q = txt.quality_features(docs).select("doc_id", "lang", "quality_score")
    thr = q.groupBy("lang").agg(
        F.expr("percentile(quality_score, 0.5)").alias("thr")
    )
    return (
        q.join(F.broadcast(thr), "lang")
        .filter(F.col("quality_score") >= F.col("thr"))
        .select("doc_id", "lang", "quality_score")
    )


@query(
    "evt_rfm_scores",
    "WITH a AS (SELECT user_id, max(ts) AS last_ts, count(*)::BIGINT AS freq, "
    "round(sum(value), 2) AS monetary FROM events GROUP BY user_id) "
    "SELECT user_id, freq, monetary, "
    "ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS r_score, "
    "ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score, "
    "ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_score "
    "FROM a",
    doc="RFM (recency/frequency/monetary) quintile scoring - the "
    "classic customer-value segmentation: one grouped scan reduces each "
    "user to (last_ts, freq, monetary), then three global ntile(5) "
    "windows rank the reduced table. The windows are un-partitioned but "
    "run over |users| rows, not |events|; at 100 TB-of-events scale the "
    "reduced side is still billions of users at most, where the exact "
    "ntile swaps for approx-quantile bucket edges computed once and "
    "applied map-side (same output contract). Deterministic (metric, "
    "user_id) tiebreaks keep quintile boundaries identical across "
    "engines.",
)
def evt_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum("value"), 2).alias("monetary"),
    )
    return a.select(
        "user_id",
        "freq",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy(F.col("last_ts").desc(), "user_id"))
        .cast("long")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("freq").desc(), "user_id"))
        .cast("long")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary").desc(), "user_id"))
        .cast("long")
        .alias("m_score"),
    )


@query(
    "txt_token_budget_sample",
    "WITH t AS (SELECT doc_id, source, "
    "len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tokens, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h "
    "FROM documents), "
    "c AS (SELECT doc_id, source, n_tokens, "
    "CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t) "
    "SELECT doc_id, source, n_tokens, cum_tokens FROM c "
    "WHERE cum_tokens <= 10000",
    doc="Token-budget sampling: cap each SOURCE at a fixed token budget by "
    "walking its documents in content-stable hash order and keeping rows "
    "while the running token total fits - how a training mix is cut to "
    "per-source budgets reproducibly (same hash-order trick as "
    "txt_mix_sources; rand() would resample every run). One window per "
    "source partition computes the running sum; the budget predicate is "
    "then a plain filter. At 100 TB the cumulative window shuffles once "
    "on source - the same cost as any per-source rollup.",
)
def txt_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    t = docs.select(
        "doc_id",
        "source",
        F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n_tokens"),
        txt.hex64(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 10000)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@query(
    "dd_cluster_size_audit",
    "WITH comp AS (SELECT * FROM (" + _components_duck(0.5) + ")), "
    "sizes AS (SELECT component, count(*)::BIGINT AS size FROM comp "
    "GROUP BY component), "
    "singles AS (SELECT 1::BIGINT AS size FROM documents "
    "WHERE doc_id NOT IN (SELECT doc_id FROM comp)), "
    "all_sizes AS (SELECT size FROM sizes UNION ALL SELECT size FROM singles) "
    "SELECT size, count(*)::BIGINT AS n_clusters FROM all_sizes GROUP BY size",
    doc="Dedup audit report: the cluster-size histogram of the MinHash "
    "near-dup components, INCLUDING the singleton mass (docs in no pair "
    "anti-joined back in as size-1 clusters) - the one table a curation "
    "run reads to judge how aggressive a dedup pass was (share of corpus "
    "in large clusters vs untouched). Rides the oracle-green components "
    "operator; the added cost is one anti-join and two tiny aggregates "
    "over |docs| and |clusters| rows.",
)
def dd_cluster_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dd.minhash_neardup_pairs(docs, threshold=0.5)
    comp = dd.neardup_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    singles = (
        docs.select("doc_id")
        .join(comp.select("doc_id"), "doc_id", "left_anti")
        .select(F.lit(1).cast("long").alias("size"))
    )
    return (
        sizes.select("size")
        .unionAll(singles)
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


@query(
    "dd_containment_pairs",
    "WITH p AS (SELECT doc_id, list_distinct(regexp_extract_all(text, '\\S+')) AS tk "
    "FROM documents WHERE doc_id < 200), "
    "c AS (SELECT doc_id, list_distinct(regexp_extract_all(text, '\\S+')) AS tk "
    "FROM documents) "
    "SELECT p.doc_id AS id_a, c.doc_id AS id_b, "
    "round(len(list_intersect(p.tk, c.tk))::DOUBLE / len(p.tk)::DOUBLE, 6) "
    "AS containment "
    "FROM p JOIN c ON p.doc_id <> c.doc_id "
    "WHERE len(p.tk) > 0 AND len(c.tk) > 0 "
    "AND len(list_intersect(p.tk, c.tk)) * 1000000 >= 800000 * len(p.tk)",
    doc="EXACT asymmetric containment join (|A intersect B| / |A| >= 0.8): "
    "catches a short doc embedded in a long one, which symmetric Jaccard "
    "scores near zero — the boilerplate/quote/chunk-leak dedup case. "
    "Spark side is the containment-adapted prefix filter "
    "(dedup.containment_join): the probe's rarest-first prefix of "
    "|A| - ceil(0.8|A|) + 1 tokens must hit the corpus side, so work "
    "scales with prefix-token document frequency, never probe x corpus; "
    "integer prefix AND threshold arithmetic (no float-boundary pair "
    "loss). The oracle brute-forces the same bounded probe set "
    "(doc_id < 200).",
)
def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    probe = docs.filter(F.col("doc_id") < 200)
    return dd.containment_join(probe, docs, threshold=0.8)


@query(
    "mm_bmp_features",
    # with_bmp_content's logical raster: byte j = ((doc_id + j) * 37) % 256,
    # j = 3*(y*w + x) + c — channel c collects every 3rd byte. The BMP file
    # stores that raster bottom-up, BGR, row-padded; matching sums prove
    # the decoder undid all three layout quirks.
    "WITH d AS (SELECT doc_id, doc_id % 8 + 2 AS w, doc_id % 4 + 2 AS h "
    "FROM documents), "
    "g AS (SELECT range AS p FROM range(0, 135)) "
    "SELECT doc_id, w AS width, h AS height, "
    "round(sum(((doc_id + p) * 37) % 256) FILTER (WHERE p % 3 = 0) "
    "/ (w * h), 6) AS mean_r, "
    "round(sum(((doc_id + p) * 37) % 256) FILTER (WHERE p % 3 = 1) "
    "/ (w * h), 6) AS mean_g, "
    "round(sum(((doc_id + p) * 37) % 256) FILTER (WHERE p % 3 = 2) "
    "/ (w * h), 6) AS mean_b "
    "FROM d JOIN g ON g.p < 3 * w * h GROUP BY doc_id, w, h",
    doc="REAL 24-bit BMP decode + per-channel features: a genuine BMP per "
    "row (encode_bmp — bottom-up rows, BGR channel order, 4-byte row "
    "padding) flows through the Arrow feature stage, whose decoder "
    "(decode_image_real BM branch + netpbm_array) must strip the padding, "
    "flip the row order, and swap BGR back to RGB to recover the logical "
    "raster. The oracle reproduces each channel's mean arithmetically "
    "from doc_id, so ANY layout mistake (padding counted, rows unflipped, "
    "R/B swapped) breaks the hash — the third real codec-free format "
    "after netpbm and WAV.",
)
def mm_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = mm.with_bmp_content(docs)
    return mm.image_features(blobs)


@query(
    "txt_langid_confusion",
    "WITH p AS (" + _langid_duck() + ") "
    "SELECT d.lang AS lang_true, p.lang_pred, count(*)::BIGINT AS n_docs "
    "FROM documents d JOIN p ON d.doc_id = p.doc_id "
    "GROUP BY d.lang, p.lang_pred",
    doc="Language-ID confusion matrix: the heuristic's predictions "
    "cross-tabulated against the table's labeled lang column - the "
    "accuracy audit a curation pipeline runs before trusting lang-gated "
    "filters (per-language quality cutoffs, stopword lists). One scan "
    "computes predictions map-side, one |langs|^2-row aggregate; the "
    "diagonal mass over the total is the heuristic's accuracy.",
)
def txt_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    pred = txt.lang_id(docs)
    return pred.groupBy(
        F.col("lang").alias("lang_true"), "lang_pred"
    ).agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "txt_zipf_slope",
    "WITH tok AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS t "
    "FROM documents), "
    "freq AS (SELECT t, count(*)::BIGINT AS f FROM tok GROUP BY t), "
    "ranked AS (SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r "
    "FROM freq) "
    "SELECT count(*)::BIGINT AS n_terms, "
    "round(regr_slope(ln(f), ln(r)), 4) AS zipf_slope "
    "FROM ranked WHERE r <= 200",
    doc="Zipf's-law fit over the corpus vocabulary: regression slope of "
    "ln(frequency) on ln(rank) for the top-200 terms - natural text sits "
    "near -1, and a corpus whose slope drifts (template spam flattens "
    "it, boilerplate dedup failures steepen it) fails the health check. "
    "One explode+agg shuffles on the token key; the regression runs over "
    "200 rows. Deterministic (freq DESC, token) ranking keeps both "
    "engines' rank assignment identical; 4dp rounding absorbs "
    "accumulation-order ulps in the regression sums.",
)
def txt_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("text")
    tok = docs.select(F.explode(txt.tokens_of("text")).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.col("f").desc(), "t")
    ranked = freq.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 200)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(
            F.regr_slope(F.log(F.col("f").cast("double")), F.log(F.col("r").cast("double"))), 4
        ).alias("zipf_slope"),
    )


@query(
    "sim_ivf_index_topk",
    REGISTRY["sim_ivf_topk"].oracle,
    doc="The PERSISTED IVF index path under the oracle gate: the query "
    "builds the index (ivf_index_write, medoid quantizer - deterministic "
    "hash-seeded cells, partitionBy(cell) layout + parquet centers) ONCE "
    "per process (bench reps time the SEARCH leg; the warmup pays the "
    "build), then searches it with ivf_index_topk, whose probed "
    "cells become PARTITION filters on the read. Because the medoid "
    "quantizer is deterministic, the result is bit-identical to the "
    "in-memory sim_ivf_topk and shares its full value-hash oracle - so "
    "a bug anywhere in the write/read/prune cycle (cell assignment at "
    "write, center round-trip through parquet, partition pruning "
    "dropping a probed cell) breaks the driver hash, not just a pytest.",
)
def sim_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    path = "file://" + _process_cached_index(
        "ivf", sf_dir,
        lambda p: sim.ivf_index_write(emb, "file://" + p, nlist=16,
                                      quantizer="medoid", seed=7),
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivf_index_topk(spark, path, queries, k=10, nprobe=4)


@query(
    "evt_time_to_convert",
    "WITH f AS (SELECT user_id, "
    "min(ts) FILTER (WHERE event_type = 'view') AS first_view, "
    "min(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase "
    "FROM events GROUP BY user_id), "
    "d AS (SELECT epoch_us(first_purchase) - epoch_us(first_view) AS us "
    "FROM f WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL "
    "AND first_purchase > first_view) "
    "SELECT count(*)::BIGINT AS n_converters, "
    "round(avg(us) / 3600000000.0, 4) AS avg_hours, "
    "round(quantile_cont(us, 0.5) / 3600000000.0, 4) AS p50_hours "
    "FROM d",
    doc="Time-to-convert funnel statistic: per user, first view to first "
    "LATER purchase, reduced to count/mean/median hours. All arithmetic "
    "runs in exact integer microseconds until the final divide (bigint "
    "sums stay below 2^53, so the double mean is summation-order-"
    "independent across engines — the FP rule rel_q10 established for "
    "money, applied to time). One grouped scan + a 3-value reduce.",
)
def evt_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    d = f.filter(
        F.col("fv").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") > F.col("fv"))
    ).select((F.unix_micros("fp") - F.unix_micros("fv")).alias("us"))
    return d.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(F.avg("us") / 3600000000.0, 4).alias("avg_hours"),
        F.round(F.expr("percentile(us, 0.5)") / 3600000000.0, 4).alias("p50_hours"),
    )


@query(
    "sim_ivfpq_index_topk",
    REGISTRY["sim_ivfpq_topk"].oracle,
    headline=True,
    doc="The PERSISTED IVF-PQ index under the oracle gate: the query "
    "writes the (id, cell, packed-BIGINT codes) partitionBy(cell) "
    "layout plus cells/codebook/meta sidecars ONCE per process (bench "
    "reps time the SEARCH leg; the warmup pays the build), then "
    "searches it - probed cells become partition filters, the scan "
    "unpacks 8-byte codes and ADC-ranks via the query LUT. Bit-identical "
    "to the in-memory sim_ivfpq_topk (same deterministic medoids, "
    "accumulation orders, tie rules), so it shares that query's full "
    "value-hash oracle: any bug in the pack/unpack cycle, the sidecar "
    "round-trip, or the partition pruning breaks the driver hash. This "
    "is the complete 100 TB ANN layout - tiny on-disk codes, file-level "
    "pruning, code-only scan - certified end to end.",
)
def sim_ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    path = "file://" + _process_cached_index(
        "ivfpq", sf_dir,
        lambda p: sim.ivfpq_index_write(e, "file://" + p, nlist=16, m=8, kcode=16),
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivfpq_index_topk(spark, path, q, k=10, nprobe=4)



_CURATION_FULL_DUCK = (
    "WITH fq AS (SELECT doc_id, length(text) AS n_chars_x, "
    "len(regexp_extract_all(text, '\\S+')) AS n_tok, "
    "length(regexp_replace(text, '[^.,;:!?''\"()\\[\\]{}-]', '', 'g')) AS punct, "
    "length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits, "
    "len(list_filter(regexp_extract_all(text, '\\S+'), "
    "t -> t IN ('the','a','of','and','to','in','is'))) AS stop FROM documents), "
    "q AS (SELECT doc_id, round(0.3 * least(n_tok / 100.0, 1.0) "
    "+ 0.3 * (1.0 - punct / greatest(n_chars_x, 1)) "
    "+ 0.2 * least(stop / greatest(n_tok, 1) * 5, 1.0) "
    "+ 0.2 * (1.0 - digits / greatest(n_chars_x, 1)), 6) AS qs FROM fq), "
    "s1 AS (SELECT d.doc_id, d.lang, d.source, d.text FROM documents d "
    "JOIN q USING (doc_id) WHERE q.qs >= 0.5), "
    "s2 AS (SELECT * FROM s1 QUALIFY "
    "row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1), "
    + _neardup_pairs_ctes("s2", 0.5) + ", "
    "s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT id_b FROM ndpairs)), "
    "dcb AS (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
    "::BIGINT % 10 AS b FROM s3), "
    "dtk AS (SELECT doc_id, b, regexp_extract_all(text, '\\S+') AS toks FROM dcb), "
    "dsh AS (SELECT doc_id, b, unnest(list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 1)), "
    "j -> toks[j] || ' ' || toks[j + 1] || ' ' || toks[j + 2] || ' ' || toks[j + 3]"
    "))) AS g FROM dtk WHERE len(toks) >= 4), "
    "testg AS (SELECT DISTINCT g FROM dsh WHERE b = 0), "
    "bad AS (SELECT dsh.doc_id FROM dsh JOIN testg USING (g) WHERE dsh.b <> 0 "
    "GROUP BY dsh.doc_id HAVING count(DISTINCT dsh.g) >= 3), "
    "s4 AS (SELECT * FROM dcb WHERE b <> 0 "
    "AND doc_id NOT IN (SELECT doc_id FROM bad)), "
    "tb AS (SELECT doc_id, source, lang, "
    "len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tokens, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM s4), "
    "cb AS (SELECT doc_id, source, lang, n_tokens, "
    "CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM tb) "
    "SELECT doc_id, source, lang, n_tokens, cum_tokens, "
    "CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 80 "
    "THEN 'train' WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT "
    "% 100 < 90 THEN 'valid' ELSE 'test' END AS split "
    "FROM cb WHERE cum_tokens <= 10000"
)


@query(
    "txt_curation_pipeline_full",
    _CURATION_FULL_DUCK,
    headline=True,
    doc="The END-TO-END curation dataflow as ONE composed plan (VERDICT r6 "
    "#6) — the nightly job a 100 TB training-data run actually executes: "
    "quality filter (absolute 0.5 cutoff) -> exact dedup (keep-min-id "
    "per sha256) -> MinHash near-dup keep (drop id_b per verified pair, "
    "keep-smallest) -> train/test decontamination (drop train docs "
    "sharing >=3 word 4-grams with the b=0 holdout) -> per-source "
    "10k-token budget sample (content-stable hash order) -> 80/10/10 "
    "deterministic split assignment. Every stage is individually "
    "oracle-green; composing them exercises the stage INTERACTIONS — "
    "column collisions, the near-dup stage consuming a deduped relation "
    "instead of the raw table, combined plan size — that per-stage "
    "queries never see. Shuffle ledger: quality is map-side; exact "
    "dedup one hash shuffle; near-dup one band shuffle + one anti-join; "
    "decontamination one shingle shuffle + one anti-join; budget one "
    "per-source window; split map-side — six keyed exchanges total, "
    "nothing quadratic, every stage's small side broadcast or distinct.",
)
def txt_curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    rows = table_rows_hint(sf_dir, "documents")
    if rows is None or rows > 8_000:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return txt.curation_pipeline_full(
        docs, quality_cutoff=0.5, neardup_threshold=0.5, token_budget=10000
    )


@query(
    "sim_ivfpq_rerank_topk",
    _IVFPQ_CAND_DUCK + ", "
    "candtop AS (SELECT query_id, vec_id FROM ("
    "SELECT query_id, vec_id, "
    "row_number() OVER (PARTITION BY query_id ORDER BY round(d, 6), vec_id) AS rn "
    "FROM cand) WHERE rn <= 30), "
    "rr AS (SELECT c.query_id, c.vec_id, "
    "list_sum(list_transform(range(1, 65), d -> "
    "(v.v[d] - q.qv[d]) * (v.v[d] - q.qv[d]))) AS rd "
    "FROM candtop c JOIN v ON v.vec_id = c.vec_id "
    "JOIN q ON q.query_id = c.query_id) "
    "SELECT query_id, vec_id, l2_dist FROM ("
    "SELECT query_id, vec_id, round(rd, 6) AS l2_dist, "
    "row_number() OVER (PARTITION BY query_id ORDER BY round(rd, 6), vec_id) AS rn "
    "FROM rr) WHERE rn <= 10",
    doc="IVF-PQ + full-vector re-rank (FAISS's refine stage, public "
    "method) — the remedy the round-7 clustered-corpus measurement "
    "demands: ADC codes BOUND the candidate set (top-30 per query from "
    "probed cells, 8-byte scan), exact L2 on full vectors RANKS the "
    "survivors (similarity.py ivfpq_rerank_topk). On clustered 1M-vector "
    "data standalone ADC recall is ~0.10 because quantization error "
    "swamps within-cluster distances; the re-rank restores it while "
    "fetching full vectors for only queries x 30 rows. The candidate "
    "fetch is a broadcast join over the corpus scan (no vector-table "
    "shuffle); every layer of both stages is deterministic, so the "
    "two-stage top-10 is value-hashed end to end.",
)
def sim_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivfpq_rerank_topk(
        e, q, k=10, cand=30, nlist=16, nprobe=4, m=8, kcode=16
    )


@query(
    "mm_gif_features",
    # with_gif_content's raster: palette index at position p =
    # ((doc_id + p) * 41) % 251; palette entry i = (i, 2i % 256, 3i % 256).
    # Matching channel means prove the LZW decompression recovered every
    # index exactly — one corrupted code would shift all following output.
    "WITH d AS (SELECT doc_id, doc_id % 8 + 2 AS w, doc_id % 4 + 2 AS h "
    "FROM documents), "
    "g AS (SELECT range AS p FROM range(0, 45)) "
    "SELECT doc_id, w AS width, h AS height, "
    "round(sum(((doc_id + p) * 41) % 251) / (w * h), 6) AS mean_r, "
    "round(sum((((doc_id + p) * 41) % 251) * 2 % 256) / (w * h), 6) AS mean_g, "
    "round(sum((((doc_id + p) * 41) % 251) * 3 % 256) / (w * h), 6) AS mean_b "
    "FROM d JOIN g ON g.p < w * h GROUP BY doc_id, w, h",
    doc="REAL GIF87a decode + per-channel features — the first CODEC-"
    "bearing format in the multimodal family (netpbm/BMP/WAV are layout-"
    "only): encode_gif LZW-COMPRESSES each deterministic palette raster "
    "(variable 9-12-bit codes, CLEAR/EOI, LSB-first packing) and the "
    "Arrow feature stage must run genuine LZW decompression (KwKwK case, "
    "code-width growth, dictionary reset) plus palette mapping to recover "
    "the pixels. The oracle reproduces each channel mean arithmetically "
    "from doc_id, so a single wrong LZW code anywhere breaks the hash. "
    "JPEG/PNG (entropy coding + DCT/deflate) still raise loudly and slot "
    "into the same contract when Pillow is available.",
)
def mm_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = mm.with_gif_content(docs)
    return mm.image_features(blobs)


@query(
    "rel_q2_min_cost_supplier",
    "WITH pc AS (SELECT l_partkey, l_suppkey, "
    "min(l_extendedprice / l_quantity) AS unit_cost "
    "FROM lineitem GROUP BY l_partkey, l_suppkey), "
    "best AS (SELECT l_partkey, min(unit_cost) AS best_cost FROM pc "
    "GROUP BY l_partkey) "
    "SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, "
    "round(pc.unit_cost, 6) AS unit_cost "
    "FROM pc JOIN best ON pc.l_partkey = best.l_partkey "
    "AND pc.unit_cost = best.best_cost "
    "JOIN part p ON p.p_partkey = pc.l_partkey "
    "JOIN supplier s ON s.s_suppkey = pc.l_suppkey "
    "JOIN nation n ON n.n_nationkey = s.s_nationkey "
    "WHERE p.p_size = 15",
    doc="TPC-H Q2 shape (min-cost supplier via correlated min subquery, "
    "decorrelated the way engines execute it): per (part, supplier) the "
    "min observed unit price, then keep the suppliers achieving each "
    "part's minimum, dims joined for the report. The per-part minimum "
    "rides the SAME (l_partkey) hash partitioning as the first aggregate "
    "— a window min, not a second shuffle; part/supplier/nation are "
    "broadcast. Equality on unit_cost is FP-safe cross-engine: one "
    "correctly-rounded division per row, exact min — identical doubles "
    "on both engines (rounding happens only in the OUTPUT column).",
)
def rel_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    # partition by l_partkey ALONE before the (partkey, suppkey) aggregate:
    # hash(pk) satisfies the agg's clustered-distribution requirement AND
    # the window's pk requirement, so the whole min-of-min runs on ONE
    # exchange; the default hash(pk, sk) agg partitioning would force a
    # second exchange for the window (pinned in test_plans.py)
    pc = l.repartition("l_partkey").groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    best = pc.withColumn("__best", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("__best")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
    )


@query(
    "rel_q11_important_stock",
    "WITH v AS (SELECT l_partkey, "
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT) "
    "* CAST(l_quantity AS BIGINT))::BIGINT AS cents "
    "FROM lineitem GROUP BY l_partkey) "
    "SELECT l_partkey AS p_partkey, cents / 100.0 AS part_value FROM v "
    "WHERE cents * (SELECT count(*) FROM v) * 10 > (SELECT sum(cents) FROM v) * 12",
    doc="TPC-H Q11 shape (important stock): per-part inventory value kept "
    "only when it exceeds a threshold derived from the global aggregate "
    "— here 1.2x the AVERAGE part value (cents * n_parts * 10 > total * "
    "12), a scale-free cut where Q11's fixed fraction degenerates as the "
    "part count grows. Value accumulates in exact integer cents x "
    "quantity and the threshold compare is pure integer, so no "
    "summation-order ulp can flip a part across the cut on either "
    "engine. The global (total, count) is a 1-row broadcast "
    "(BroadcastNestedLoop inline), never a second fact scan.",
)
def rel_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    v = l.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            * F.col("l_quantity").cast("long")
        ).alias("cents")
    )
    total = v.agg(
        F.sum("cents").alias("__total"), F.count(F.lit(1)).alias("__n")
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("cents") * F.col("__n") * 10 > F.col("__total") * 12)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("cents") / 100.0).alias("part_value"),
        )
    )


@query(
    "rel_q12_priority_lateness",
    "SELECT l.l_linestatus, "
    "sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END)::BIGINT AS high_line_count, "
    "sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END)::BIGINT AS low_line_count "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY "
    "GROUP BY l.l_linestatus",
    doc="TPC-H Q12 shape (shipmode/priority cross-count, adapted to the "
    "available columns: 'late' = shipped more than 90 days after the "
    "order date, line status standing in for ship mode): one fact-dim "
    "join with the non-equi lateness predicate evaluated in the join "
    "output, then conditional CASE counts per group — the canonical "
    "join + pivot-by-CASE aggregation. Exact integer counts; the date "
    "arithmetic is identical interval math on both engines.",
)
def rel_q12_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


@query(
    "rel_q20_excess_suppliers",
    "WITH pq AS (SELECT l.l_partkey, l.l_suppkey, "
    "sum(CAST(l.l_quantity AS BIGINT))::BIGINT AS q "
    "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
    "WHERE p.p_name LIKE '%bolt%' GROUP BY l.l_partkey, l.l_suppkey), "
    "tot AS (SELECT l_partkey, sum(q)::BIGINT AS tq FROM pq GROUP BY l_partkey) "
    "SELECT DISTINCT s.s_suppkey, s.s_name FROM supplier s "
    "WHERE s.s_suppkey IN (SELECT pq.l_suppkey FROM pq "
    "JOIN tot ON pq.l_partkey = tot.l_partkey WHERE pq.q * 8 > tot.tq)",
    doc="TPC-H Q20 shape (nested IN subqueries selecting dominant "
    "suppliers): among '%bolt%' parts, suppliers who shipped MORE THAN "
    "an EIGHTH of a part's total quantity (the dominant-share cut that "
    "stays non-degenerate as supplier count grows), surfaced through an "
    "IN subquery "
    "over two stacked aggregates. The part-name filter is broadcast into "
    "the fact scan; the per-part total reuses the (l_partkey) "
    "partitioning via a window sum (no second shuffle); the IN becomes "
    "a left-semi join on the tiny qualifying-supplier set. Quantities "
    "sum as exact BIGINTs, threshold compare is integer (q * 8 > total).",
)
def rel_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    # same one-exchange trick as rel_q2: hash(pk) serves both the
    # (pk, sk) aggregate and the per-part window share
    pq = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    )
    w = Window.partitionBy("l_partkey")
    qual = (
        pq.withColumn("__tq", F.sum("q").over(w))
        .filter(F.col("q") * 8 > F.col("__tq"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    return s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@query(
    "rel_q21_blocking_supplier",
    "WITH ls AS (SELECT l_orderkey, l_suppkey, max(l_shipdate) AS last_ship "
    "FROM lineitem GROUP BY l_orderkey, l_suppkey) "
    "SELECT s.s_suppkey, s.s_name, count(*)::BIGINT AS numwait "
    "FROM ls l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey "
    "WHERE EXISTS (SELECT 1 FROM ls l2 WHERE l2.l_orderkey = l1.l_orderkey "
    "AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM ls l3 WHERE l3.l_orderkey = l1.l_orderkey "
    "AND l3.l_suppkey <> l1.l_suppkey AND l3.last_ship >= l1.last_ship) "
    "GROUP BY s.s_suppkey, s.s_name",
    doc="TPC-H Q21 shape (suppliers who kept orders waiting — EXISTS plus "
    "NOT EXISTS correlated predicates, adapted to the available columns: "
    "the blocking supplier is the one whose last shipment in a "
    "multi-supplier order is STRICTLY latest). The EXISTS compiles to a "
    "left-semi join and the NOT EXISTS to a left-anti join, both on the "
    "pre-aggregated (order, supplier) table — the fact table is touched "
    "once; everything downstream shuffles on l_orderkey and reuses that "
    "partitioning across both correlated legs.",
)
def rel_q21_blocking_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    # checkpoint-fence the pre-aggregate: it feeds BOTH correlated legs
    # and the probe side — without the fence each leg re-plans its own
    # lineitem scan + aggregate (3 fact scans); with it the fact table is
    # literally touched once (pinned in test_plans.py)
    ls = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("last_ship")
    ).localCheckpoint(eager=False)
    l1, l2, l3 = ls.alias("l1"), ls.alias("l2"), ls.alias("l3")
    multi = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    blocking = multi.alias("l1").join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey"))
        & (F.col("l3.last_ship") >= F.col("l1.last_ship")),
        "left_anti",
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        blocking.join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "txt_priority_sample",
    "WITH t AS (SELECT doc_id, source, "
    "greatest(len(regexp_extract_all(text, '\\S+')), 1)::BIGINT AS w, "
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
    "% 1125899906842624) AS h FROM documents), "
    "p AS (SELECT doc_id, source, w AS n_tokens, "
    "(h / 1125899906842624.0) / w AS priority FROM t) "
    "SELECT doc_id, source, n_tokens, priority FROM ("
    "SELECT doc_id, source, n_tokens, priority, "
    "row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rn "
    "FROM p) WHERE rn <= 40",
    doc="Deterministic WEIGHTED sampling via priority sampling (Duffield-"
    "Lund-Thorup, public method): each doc draws priority = u / weight "
    "with u a content-stable hash uniform and weight = token count, and "
    "the k smallest priorities per source are kept — selection "
    "probability rises with weight, estimates are near-optimal, and the "
    "sample is REPRODUCIBLE across runs and engines (rand() resamples "
    "every run; A-Res's u^(1/w) needs pow/ln whose libm results differ "
    "across engines). FP contract: u = (hash % 2^50) / 2^50 is EXACT "
    "(power-of-two divide of a <2^53 integer), so priority is ONE "
    "correctly-rounded division — bit-identical cross-engine with no "
    "rounding step at all. One per-source window, map-side otherwise.",
)
def txt_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    t = docs.select(
        "doc_id",
        "source",
        F.greatest(
            F.regexp_count("text", F.lit(r"\S+")).cast("long"), F.lit(1)
        ).alias("n_tokens"),
        F.pmod(
            txt.hex64(F.col("doc_id").cast("string")), F.lit(1 << 50)
        ).alias("h"),
    )
    p = t.select(
        "doc_id", "source", "n_tokens",
        ((F.col("h") / F.lit(float(1 << 50))) / F.col("n_tokens")).alias("priority"),
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        p.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 40)
        .drop("__rn")
    )


@query(
    "evt_trending_topk",
    "WITH w AS (SELECT date_trunc('hour', ts) AS window_start, event_type, "
    "count(*)::BIGINT AS n FROM events GROUP BY 1, 2) "
    "SELECT window_start, event_type, n, rn AS rank FROM ("
    "SELECT window_start, event_type, n, row_number() OVER ("
    "PARTITION BY window_start ORDER BY n DESC, event_type) AS rn FROM w) "
    "WHERE rn <= 3",
    doc="Trending top-k: the 3 most frequent event types per tumbling "
    "hour — the windowed leaderboard every event-analytics surface "
    "serves. One event-time aggregate plus a per-window rank; "
    "WindowGroupLimit bounds the rank pass to k rows per window. The "
    "streaming twin is tumbling_counts -> foreachBatch rank over closed "
    "windows (same batch logic, watermark decides closure).",
)
def evt_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wdf = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    return (
        wdf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("window_start", "event_type", "n", "rank")
    )


@query(
    "sim_label_centroids",
    "WITH g AS (SELECT range AS d FROM range(0, 64)) "
    "SELECT e.label, g.d AS dim, "
    "sum(CAST(round(CAST(e.embedding[g.d + 1] AS DOUBLE) * 1000000) AS BIGINT))::BIGINT "
    "AS sum_micro, count(*)::BIGINT AS n, "
    "(CASE WHEN sum(CAST(round(CAST(e.embedding[g.d + 1] AS DOUBLE) * 1000000) AS BIGINT)) >= 0 THEN 1 ELSE -1 END) "
    "* ((abs(sum(CAST(round(CAST(e.embedding[g.d + 1] AS DOUBLE) * 1000000) AS BIGINT))) * 2 + count(*)) "
    "// (2 * count(*))) / 1000000.0 AS centroid "
    "FROM embeddings e CROSS JOIN g GROUP BY e.label, g.d",
    doc="Per-label embedding centroids (class prototype vectors — the "
    "primitive behind nearest-centroid classification, semantic-cluster "
    "summaries, and IVF warm starts). Components accumulate in EXACT "
    "integer micro-units (round(x * 1e6) as BIGINT), so the sum is "
    "summation-order-independent and the mean is one division from "
    "exact integers; the half-up-to-micro rounding itself happens in "
    "INTEGER space ((2|s|+n) div 2n) because a double division can land "
    "exactly on a 6dp half (observed at sf0.1: 616992/192 = 3213.5 "
    "micro) where engines disagree on the tie — the rel_q10 money rule "
    "applied to vector space; "
    "a double sum would drift per partitioning. Long output (label, "
    "dim, centroid): one posexplode + one (label, dim) aggregate, "
    "map-side partials, no window.",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select("label", "embedding")
    comp = e.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label", "dim",
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("micro"),
    )
    return comp.groupBy("label", "dim").agg(
        F.sum("micro").alias("sum_micro"),
        F.count(F.lit(1)).alias("n"),
        (
            F.signum(F.sum("micro")).cast("long")
            * F.expr("(abs(sum(micro)) * 2 + count(1)) DIV (2 * count(1))")
            / 1000000.0
        ).alias("centroid"),
    )


@query(
    "evt_volume_anomaly_dow",
    "WITH d AS (SELECT date_trunc('day', ts)::DATE AS day, event_type, "
    "count(*)::BIGINT AS n FROM events GROUP BY 1, 2), "
    "w AS (SELECT day, event_type, n, "
    "sum(n) OVER (PARTITION BY event_type, dayofweek(day) "
    "ORDER BY date_diff('day', DATE '1970-01-01', day) "
    "RANGE BETWEEN 28 PRECEDING AND 7 PRECEDING)::BIGINT AS s4, "
    "count(n) OVER (PARTITION BY event_type, dayofweek(day) "
    "ORDER BY date_diff('day', DATE '1970-01-01', day) "
    "RANGE BETWEEN 28 PRECEDING AND 7 PRECEDING)::BIGINT AS c4 FROM d) "
    "SELECT day, event_type, n, round(s4::DOUBLE / c4, 4) AS dow_baseline, "
    "round(n::DOUBLE * c4 / s4, 4) AS vol_ratio FROM w WHERE c4 > 0",
    doc="Seasonality-aware volume anomaly: each (day, event_type)'s count "
    "vs the trailing mean of the SAME WEEKDAY over the previous 4 weeks "
    "— the baseline that does not flag every Saturday as anomalous the "
    "way the plain trailing-week mean (evt_volume_anomaly) does for "
    "weekly-periodic traffic. Partitioning by (event_type, weekday) "
    "makes the RANGE frame over epoch-days see only same-weekday rows, "
    "so 28..7 PRECEDING is exactly the last 4 same-weekday observations "
    "with calendar gaps handled. Same exact-integer sum/count contract; "
    "weekday numbering pinned cross-engine by the shared partition key.",
)
def evt_volume_anomaly_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    d = d.withColumn("day_num", F.datediff(F.col("day"), F.lit("1970-01-01")))
    # dayofweek numbering differs across engines (Spark 1=Sunday, DuckDB
    # 0=Sunday) but it is only a PARTITION key — any bijection of day mod 7
    # yields identical partitions, so the results agree regardless
    d = d.withColumn("dow", F.dayofweek("day"))
    w = (
        Window.partitionBy("event_type", "dow")
        .orderBy("day_num")
        .rangeBetween(-28, -7)
    )
    t = d.select(
        "day", "event_type", "n",
        F.sum("n").over(w).alias("s4"),
        F.count("n").over(w).alias("c4"),
    ).filter(F.col("c4") > 0)
    return t.select(
        "day", "event_type", "n",
        F.round(F.col("s4").cast("double") / F.col("c4"), 4).alias("dow_baseline"),
        F.round(F.col("n").cast("double") * F.col("c4") / F.col("s4"), 4).alias("vol_ratio"),
    )


@query(
    "wm_snapshot_diff",
    # deterministic synthetic snapshots from one table: yesterday drops
    # doc_id % 10 == 0 (those are "added" today) and carries a stale text
    # for doc_id % 7 == 0 (those are "changed")
    "WITH today AS (SELECT doc_id, text FROM documents), "
    "yesterday AS (SELECT doc_id, "
    "CASE WHEN doc_id % 7 = 0 THEN text || ' [stale]' ELSE text END AS text "
    "FROM documents WHERE doc_id % 10 <> 0) "
    "SELECT COALESCE(t.doc_id, y.doc_id) AS doc_id, "
    "CASE WHEN y.doc_id IS NULL THEN 'added' "
    "WHEN t.doc_id IS NULL THEN 'removed' "
    "WHEN sha256(t.text) <> sha256(y.text) THEN 'changed' "
    "ELSE 'unchanged' END AS change "
    "FROM today t FULL OUTER JOIN yesterday y ON t.doc_id = y.doc_id "
    "WHERE NOT (t.doc_id IS NOT NULL AND y.doc_id IS NOT NULL "
    "AND sha256(t.text) = sha256(y.text))",
    doc="Snapshot diff — the daily-ops primitive behind incremental "
    "re-curation: FULL OUTER JOIN of two corpus snapshots on the id, "
    "change class from presence + content-hash comparison, unchanged "
    "rows dropped so the output is exactly the delta a downstream "
    "pipeline must reprocess. One join shuffle on the id; the hash "
    "comparison is codegen sha2, no Python. At 100 TB both snapshots "
    "are id-bucketed tables and this join is exchange-free; the delta "
    "feeds neardup_index_append / ivfpq_index_append so the expensive "
    "indexes update incrementally instead of rebuilding.",
)
def wm_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    today = docs
    yesterday = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [stale]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    t = today.select(F.col("doc_id").alias("t_id"), F.sha2("text", 256).alias("t_h"))
    y = yesterday.select(F.col("doc_id").alias("y_id"), F.sha2("text", 256).alias("y_h"))
    j = t.join(y, t.t_id == y.y_id, "full_outer")
    change = (
        F.when(F.col("y_id").isNull(), "added")
        .when(F.col("t_id").isNull(), "removed")
        .when(F.col("t_h") != F.col("y_h"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(F.coalesce("t_id", "y_id").alias("doc_id"), change.alias("change"))
        .filter(F.col("change") != "unchanged")
    )


@query(
    "rel_profile_lineitem",
    "SELECT count(*)::BIGINT AS n_rows, "
    "count(DISTINCT l_orderkey)::BIGINT AS n_orders, "
    "count(DISTINCT l_partkey)::BIGINT AS n_parts, "
    "sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_returnflag, "
    "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, "
    "min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship, "
    "round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) "
    "AS total_price, "
    "count(DISTINCT l_returnflag)::BIGINT AS n_flags "
    "FROM lineitem",
    doc="One-pass column profile of the fact table — the data-contract "
    "health check a warehouse runs after every load: row count, key "
    "cardinalities, null counts, value ranges, exact-integer money "
    "total. All ten statistics come from ONE scan (partial aggregates "
    "map-side; the distinct counts each add a shuffle of distinct "
    "values only). At 100 TB the exact distincts swap for "
    "approx_count_distinct with identical plan shape.",
)
def rel_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum(F.col("l_returnflag").isNull().cast("long")).alias("null_returnflag"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")) / 100.0, 2
        ).alias("total_price"),
        F.countDistinct("l_returnflag").alias("n_flags"),
    )


@query(
    "mm_png_features",
    # with_png_content's raster: RGB byte j = ((doc_id + 2j) * 29) % 256,
    # channel c collects every 3rd byte. Matching sums prove the DEFLATE
    # inflate AND the per-row filter undo (Sub/Up/Average/Paeth chain,
    # filter (doc_id + y) % 5) recovered every byte exactly.
    "WITH d AS (SELECT doc_id, doc_id % 8 + 2 AS w, doc_id % 4 + 2 AS h "
    "FROM documents), "
    "g AS (SELECT range AS p FROM range(0, 135)) "
    "SELECT doc_id, w AS width, h AS height, "
    "round(sum(((doc_id + 2 * p) * 29) % 256) FILTER (WHERE p % 3 = 0) "
    "/ (w * h), 6) AS mean_r, "
    "round(sum(((doc_id + 2 * p) * 29) % 256) FILTER (WHERE p % 3 = 1) "
    "/ (w * h), 6) AS mean_g, "
    "round(sum(((doc_id + 2 * p) * 29) % 256) FILTER (WHERE p % 3 = 2) "
    "/ (w * h), 6) AS mean_b "
    "FROM d JOIN g ON g.p < 3 * w * h GROUP BY doc_id, w, h",
    doc="REAL PNG decode + per-channel features — the second codec-BEARING "
    "format, and a mainstream one, built entirely on stdlib zlib: "
    "encode_png writes genuine DEFLATE-compressed scanlines behind "
    "CRC32-verified chunks with the full filter chain (None/Sub/Up/"
    "Average/Paeth, cycling per doc+row), and the Arrow feature stage "
    "must chunk-walk, CRC-check, inflate, and undo each row's filter "
    "byte-sequentially to recover the raster. Layout varies by "
    "doc_id %% 3 (plain 8-bit / Adam7 interlaced / 16-bit Adam7 with a "
    "discarded low-byte stream — r11), so the hash also covers the "
    "seven-pass scatter and the depth reduction. The oracle reproduces "
    "each channel mean arithmetically from doc_id, so one wrong byte "
    "anywhere in the inflate/unfilter/deinterlace chain breaks it.",
)
def mm_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = mm.with_png_content(docs)
    return mm.image_features(blobs)


@query(
    "sim_sq8_topk",
    "WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    "list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax "
    "FROM embeddings), "
    "s AS (SELECT vec_id, v, "
    "CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END AS sc FROM b), "
    "d AS (SELECT vec_id, list_transform(range(1, 65), "
    f"i -> {_sq8_deq_duck('v[i]')}) AS dq FROM s), "
    "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
    "FROM embeddings WHERE vec_id < 5), "
    "t AS (SELECT q.query_id, d.vec_id, "
    "list_sum(list_transform(range(1, 65), "
    "i -> (d.dq[i] - q.qv[i]) * (d.dq[i] - q.qv[i]))) AS dist "
    "FROM d CROSS JOIN q) "
    "SELECT query_id, vec_id, sq8_dist FROM ("
    "SELECT query_id, vec_id, round(dist, 6) AS sq8_dist, "
    "row_number() OVER (PARTITION BY query_id ORDER BY round(dist, 6), vec_id) "
    "AS rn FROM t) WHERE rn <= 10",
    doc="SQ8 scalar-quantized search (FAISS's SQ8, public method) — the "
    "missing middle of the quantization family: int8 codes at 4x "
    "compression vs float32 (vs PQ's 32x and raw's 1x), searched "
    "ASYMMETRICALLY (raw query vs dequantized corpus, the higher-"
    "accuracy form). Same per-vector symmetric amax scale and pinned "
    "floor(x+0.5) quantizer as sim_embedding_quantize, so the stored "
    "representation is bit-identical across engines; the L2 accumulates "
    "dim-sequentially and ranks by (6dp-rounded distance, id). Scan "
    "work is the full codes column — at 100 TB SQ8 pairs with the IVF "
    "routing exactly like PQ does, trading 8x more bytes/vec than PQ "
    "for near-exact ranking (no re-rank stage needed, per the r7 "
    "clustered-corpus finding).",
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.sq8_topk(e, q, k=10)

# ===========================================================================
# round-8 additions: graph operators (PageRank, skyline), bloom-prefilter
# decontamination, collocations, robust anomaly, equi-depth histogram,
# exact-integer EWMA.
# ===========================================================================

from wms_data_pipeline_spark.operators import graph as gr


def _pagerank_oracle_sql(iterations: int = 5) -> str:
    """Unrolled fixed-point PageRank in DuckDB SQL — one CTE pair per
    iteration mirroring graph.pagerank's integer arithmetic exactly
    (``//`` floor == Spark ``div`` trunc on positives, integer sums are
    order-free, so N iterations are bit-identical)."""
    s = gr.PR_SCALE
    sql = (
        "WITH seq AS (SELECT event_type AS src, lead(event_type) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events), "
        "e AS (SELECT src, dst, count(*)::BIGINT AS w FROM seq "
        "WHERE dst IS NOT NULL GROUP BY 1, 2), "
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), "
        "o AS (SELECT src, sum(w)::BIGINT AS out_w FROM e GROUP BY 1), "
        "nn AS (SELECT count(*)::BIGINT AS n FROM nodes), "
        f"r0 AS (SELECT node, ({s} // nn.n)::BIGINT AS r "
        "FROM nodes CROSS JOIN nn)"
    )
    for k in range(1, iterations + 1):
        p = k - 1
        sql += (
            f", c{k} AS (SELECT e.dst AS node, "
            f"sum((p.r * e.w) // o.out_w)::BIGINT AS contrib "
            f"FROM e JOIN r{p} p ON e.src = p.node "
            "JOIN o ON o.src = e.src GROUP BY 1), "
            f"d{k} AS (SELECT coalesce(sum(p.r), 0)::BIGINT AS dang "
            f"FROM r{p} p LEFT JOIN o ON p.node = o.src WHERE o.src IS NULL), "
            f"r{k} AS (SELECT n.node, "
            f"((15 * ({s} // nn.n)) // 100 "
            f"+ (85 * (coalesce(c.contrib, 0) + d.dang // nn.n)) // 100"
            f")::BIGINT AS r "
            f"FROM nodes n LEFT JOIN c{k} c USING (node) "
            f"CROSS JOIN d{k} d CROSS JOIN nn)"
        )
    return sql + f" SELECT node, r AS rank_scaled FROM r{iterations}"


def _ppr_oracle_sql(iterations: int, seeds: tuple) -> str:
    """Unrolled personalized PageRank in DuckDB SQL — mirror of
    graph.personalized_pagerank's integer arithmetic (teleport + dangling
    mass return to the seed set, split evenly)."""
    s = gr.PR_SCALE
    seed_list = ", ".join(f"'{x}'" for x in seeds)
    sql = (
        "WITH seq AS (SELECT event_type AS src, lead(event_type) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events), "
        "e AS (SELECT src, dst, count(*)::BIGINT AS w FROM seq "
        "WHERE dst IS NOT NULL GROUP BY 1, 2), "
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), "
        "o AS (SELECT src, sum(w)::BIGINT AS out_w FROM e GROUP BY 1), "
        f"sd AS (SELECT node, node IN ({seed_list}) AS s FROM nodes), "
        "ns AS (SELECT count(*)::BIGINT AS n FROM sd WHERE s), "
        f"r0 AS (SELECT node, s, (CASE WHEN s THEN {s} // ns.n "
        "ELSE 0 END)::BIGINT AS r FROM sd CROSS JOIN ns)"
    )
    for k in range(1, iterations + 1):
        p = k - 1
        sql += (
            f", c{k} AS (SELECT e.dst AS node, "
            f"sum((p.r * e.w) // o.out_w)::BIGINT AS contrib "
            f"FROM e JOIN r{p} p ON e.src = p.node "
            "JOIN o ON o.src = e.src GROUP BY 1), "
            f"d{k} AS (SELECT coalesce(sum(p.r), 0)::BIGINT AS dang "
            f"FROM r{p} p LEFT JOIN o ON p.node = o.src WHERE o.src IS NULL), "
            f"r{k} AS (SELECT n.node, n.s, "
            f"(CASE WHEN n.s THEN (15 * ({s} // ns.n)) // 100 ELSE 0 END "
            f"+ (85 * (coalesce(c.contrib, 0) + CASE WHEN n.s THEN "
            f"d.dang // ns.n ELSE 0 END)) // 100)::BIGINT AS r "
            f"FROM sd n LEFT JOIN c{k} c USING (node) "
            f"CROSS JOIN d{k} d CROSS JOIN ns)"
        )
    return sql + f" SELECT node, r AS rank_scaled FROM r{iterations}"


@query(
    "evt_personalized_pagerank",
    _ppr_oracle_sql(5, ("purchase", "signup")),
    doc="Personalized (seeded-teleport) PageRank — Haveliwala's "
    "topic-sensitive formulation, public method — over the event-type "
    "transition graph, seeded at {purchase, signup}: teleport AND "
    "dangling mass return to the seeds, so rank measures proximity to "
    "the conversion states (the crawl-frontier / trust-set quality "
    "prior when a curated seed set exists; non-seed rank decays with "
    "distance). operators/graph.py personalized_pagerank: same exact "
    "scaled-BIGINT fixed-point contract and per-iteration plan as "
    "pagerank (one shuffle on src, one on dst, scalar dangling "
    "collect, checkpoint cadence) — bit-identical on any engine/"
    "partitioning; the oracle unrolls the same integer recurrence.",
)
def evt_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .localCheckpoint()  # reused by all iterations + out-degree
    )
    seeds = spark.createDataFrame(
        [("purchase",), ("signup",)], "node string"
    )
    return gr.personalized_pagerank(edges, seeds, iterations=5)


@query(
    "evt_pagerank",
    _pagerank_oracle_sql(5),
    headline=True,
    doc="Weighted PageRank (damping 0.85, 5 iterations, dangling mass "
    "redistributed) over the event-type transition graph of "
    "evt_markov_transitions — the link-graph quality prior of public "
    "web-corpus curation, here as a GENERIC iterative DataFrame operator "
    "(operators/graph.py pagerank): per iteration one shuffle on src "
    "(ranks join edges) + one on dst (contribution agg), lineage "
    "truncated by localCheckpoint every 4 iterations. Exactness across "
    "engines comes from scaled-BIGINT fixed-point arithmetic (scale 1e9, "
    "div==// on positives, order-free integer sums) — double-typed "
    "PageRank cannot hash-match after 5 iterations; this formulation "
    "is bit-stable at any partitioning. The test graph is small; the "
    "operator is sized for billion-edge graphs (edges persisted once, "
    "rank state never driver-side except the scalar dangling sum).",
)
def evt_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .localCheckpoint()  # reused by all 5 iterations + out-degree
    )
    return gr.pagerank(edges, iterations=5)


@query(
    "rel_skyline_orders",
    "WITH s AS (SELECT o_orderkey, "
    "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents, "
    "datediff('day', TIMESTAMP '1970-01-01', o_orderdate)::BIGINT AS day_no "
    "FROM orders), "
    "w AS (SELECT *, "
    "min(day_no) OVER (ORDER BY price_cents RANGE BETWEEN UNBOUNDED "
    "PRECEDING AND 1 PRECEDING) AS m1, "
    "min(day_no) OVER (PARTITION BY price_cents ORDER BY day_no "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m2 FROM s) "
    "SELECT o_orderkey, price_cents, day_no FROM w "
    "WHERE (m1 IS NULL OR m1 > day_no) AND (m2 IS NULL OR m2 >= day_no)",
    doc="Exact 2-D skyline (pareto front: cheapest-AND-earliest orders, "
    "minimize both) via the distributed two-stage operator "
    "(operators/graph.py skyline_2d): per-partition local skylines in "
    "one vectorized Arrow pass, then one global pass over the tiny "
    "survivor union, with a loud candidate-count guard against "
    "anti-correlated worst cases. The oracle is the one-window prefix-"
    "min formulation (min day over strictly-cheaper orders) — same "
    "exact semantics, different algorithm, which is the point: the "
    "window form forces a single global sort partition at scale, the "
    "two-stage form never does.",
)
def rel_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("price_cents"),
        F.datediff(F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01")))
        .cast("bigint")
        .alias("day_no"),
    )
    return gr.skyline_2d(o, "price_cents", "day_no")


@query(
    "txt_collocations_pmi",
    "WITH t AS (SELECT regexp_extract_all(text, '\\S+') AS tk FROM documents), "
    "bg AS (SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2 "
    "FROM t WHERE len(tk) >= 2), "
    "cxy AS (SELECT w1, w2, count(*)::BIGINT AS nxy FROM bg GROUP BY 1, 2), "
    "cx AS (SELECT w1, count(*)::BIGINT AS nx FROM bg GROUP BY 1), "
    "cy AS (SELECT w2, count(*)::BIGINT AS ny FROM bg GROUP BY 1) "
    "SELECT w1, w2, nxy, "
    "((((nxy * 1000000) // cx.nx) * 1000000) // cy.ny)::BIGINT "
    "AS pmi_score_x1e12 "
    "FROM cxy JOIN cx USING (w1) JOIN cy USING (w2) "
    "WHERE nxy >= 5 "
    "ORDER BY pmi_score_x1e12 DESC, w1, w2 LIMIT 50",
    doc="Collocation mining by pointwise mutual information: bigram "
    "counts vs unigram margins, scored as the EXACT integer-staged "
    "ratio ((c(xy)*1e6 div c(x)) * 1e6) div c(y) — a 1e12-scaled "
    "c(xy)/(c(x)c(y)), which ranks identically to PMI within a corpus "
    "(N is a constant factor, log is monotone) with zero FP (ln() "
    "differs per libm at the last ulp; integer ratios cannot). BIGINT "
    "headroom is corpus-size-INDEPENDENT: c(xy) <= c(x) caps the first "
    "quotient at 1e6, so every intermediate is <= 1e12 as long as "
    "c(xy) <= 9.2e12 occurrences of one bigram (code-review r8 replaced "
    "the single-product form, which overflowed at ~1e9 corpus bigrams). "
    "The staged truncation coarsens only ratios below 1e-6 — never "
    "top-50 material with min-count 5. One bigram-key shuffle + two "
    "margin aggregates. The phrase-detection pass of corpus tokenizer "
    "training (word2vec-style phrase merging, public method).",
)
def txt_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bg = (
        docs.select(txt.tokens_of("text").alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> struct(tk[i-1] AS w1, tk[i] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    cxy = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("nxy"))
    cx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("nx"))
    cy = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("ny"))
    scored = (
        cxy.join(cx, "w1")
        .join(cy, "w2")
        .filter(F.col("nxy") >= 5)
        .select(
            "w1",
            "w2",
            "nxy",
            F.expr("(((nxy * 1000000L) div nx) * 1000000L) div ny").alias(
                "pmi_score_x1e12"
            ),
        )
    )
    return rel.top_k(
        scored, 50, [F.col("pmi_score_x1e12").desc(), F.col("w1"), F.col("w2")]
    )


@query(
    "evt_robust_anomaly_mad",
    "WITH d AS (SELECT event_type, date_trunc('day', ts)::DATE AS day, "
    "count(*)::BIGINT AS n FROM events GROUP BY 1, 2), "
    "m AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM d GROUP BY 1), "
    "dev AS (SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS adev "
    "FROM d JOIN m USING (event_type)), "
    "md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad "
    "FROM dev GROUP BY 1) "
    "SELECT dev.event_type, dev.day, dev.n, dev.med, md.mad "
    "FROM dev JOIN md USING (event_type) "
    "WHERE abs(dev.n - dev.med) > 3 * md.mad",
    doc="Robust volume-anomaly detection: median/MAD replaces the "
    "mean/stddev of evt_volume_anomaly, so a burst day cannot inflate "
    "its own threshold (breakdown point 50% vs 0%). Exactness: daily "
    "counts are integers, their median is a multiple of 0.5 and the MAD "
    "of 0.5-step deviations a multiple of 0.25 — all exact in binary "
    "FP, so the 3-sigma-equivalent comparison is bit-identical across "
    "engines with no rounding. Two grouped exact percentiles + one "
    "small join; group count = |event_types|, per-group days bounded by "
    "the calendar.",
)
def evt_robust_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # med and mad as windowed aggregates over ONE event_type partitioning:
    # the second window reuses the first's exchange, so the whole query is
    # the day-count shuffle + one group shuffle (was 3 joins / 7 exchanges)
    w = Window.partitionBy("event_type")
    dev = d.withColumn("med", F.expr("percentile(n, 0.5)").over(w)).withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    return (
        dev.withColumn("mad", F.expr("percentile(adev, 0.5)").over(w))
        .filter(F.abs(F.col("n") - F.col("med")) > 3 * F.col("mad"))
        .select("event_type", "day", "n", "med", "mad")
    )


@query(
    "dq_equidepth_histogram",
    "WITH c AS (SELECT l_returnflag, "
    "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents, "
    "l_orderkey, l_linenumber FROM lineitem), "
    "b AS (SELECT l_returnflag, cents, ntile(10) OVER (PARTITION BY "
    "l_returnflag ORDER BY cents, l_orderkey, l_linenumber) AS bucket FROM c) "
    "SELECT l_returnflag, bucket::BIGINT AS bucket, count(*)::BIGINT AS n, "
    "min(cents) AS lo_cents, max(cents) AS hi_cents "
    "FROM b GROUP BY 1, 2",
    doc="Equi-depth (equal-height) histogram per group: decile boundaries "
    "of l_extendedprice, the optimizer-statistics / data-profiling "
    "companion to dq_null_profile. Deterministic despite value ties via "
    "the unique (cents, orderkey, linenumber) sort; prices in integer "
    "cents. ntile is windowed per GROUP (scale = the group fan-out); a "
    "global single-column equi-depth at 100 TB uses approx_percentile "
    "boundaries or the distributed-rank pattern instead — documented "
    "trade-off, same output contract.",
)
def dq_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("bucket", F.ntile(10).over(w).cast("bigint"))
        .groupBy("l_returnflag", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


@query(
    "evt_ewma_value",
    "WITH s AS (SELECT user_id, event_id, ts, "
    "CAST(round(value * 100, 0) AS BIGINT) AS cents, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, "
    + ", ".join(
        f"lag(CAST(round(value * 100, 0) AS BIGINT), {i}) OVER "
        f"(PARTITION BY user_id ORDER BY ts, event_id) AS l{i}"
        for i in range(1, 8)
    )
    + " FROM events) "
    "SELECT user_id, event_id, ts, cents, "
    "(cents * 128 + l1 * 64 + l2 * 32 + l3 * 16 + l4 * 8 + l5 * 4 + l6 * 2 "
    "+ l7)::BIGINT AS ewma_num_x255 FROM s WHERE rn >= 8",
    doc="Exponentially-weighted moving average of event value per user "
    "(8-tap, half-life one step) in EXACT integer arithmetic: weights "
    "are powers of two over integer cents, numerator emitted scaled by "
    "255 (= weight sum) as BIGINT — the recursive-EWMA float form drifts "
    "per-ulp across engines, the windowed power-of-two form cannot. One "
    "keyed window sort producing 7 lags map-side; rows before a full "
    "history are excluded (rn >= 8) so the weight sum is constant.",
)
def evt_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.row_number().over(w).alias("rn"),
        *[
            F.lag(F.round(F.col("value") * 100, 0).cast("bigint"), i)
            .over(w)
            .alias(f"l{i}")
            for i in range(1, 8)
        ],
    )
    return s.filter(F.col("rn") >= 8).select(
        "user_id",
        "event_id",
        "ts",
        "cents",
        F.expr(
            "cents * 128 + l1 * 64 + l2 * 32 + l3 * 16 + l4 * 8 + l5 * 4 "
            "+ l6 * 2 + l7"
        )
        .cast("bigint")
        .alias("ewma_num_x255"),
    )


@query(
    "txt_bloom_decontaminate",
    "WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS b "
    "FROM documents), "
    "sh AS (SELECT doc_id, b, unnest(list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 1)), "
    "j -> toks[j] || ' ' || toks[j + 1] || ' ' || toks[j + 2] || ' ' || toks[j + 3]"
    "))) AS g FROM t WHERE len(toks) >= 4), "
    "test AS (SELECT DISTINCT g FROM sh WHERE b = 0) "
    "SELECT sh.doc_id, count(DISTINCT sh.g)::BIGINT AS n_overlap "
    "FROM sh JOIN test USING (g) WHERE sh.b <> 0 "
    "GROUP BY sh.doc_id HAVING count(DISTINCT sh.g) >= 3",
    headline=True,
    doc="Decontamination via Bloom PREFILTER + exact confirm: the eval "
    "split's distinct 4-gram shingles build a broadcast Bloom bitset "
    "(16 bits/key, k=4, Kirsch-Mitzenmacher double hashing over "
    "xxhash64 — operators/text.py bloom_semi_prefilter), the train "
    "side's shingles are pruned MAP-SIDE to the ~0.1%-FP maybe-set, and "
    "only survivors reach the exact shingle join — so the result is "
    "EXACTLY the contaminated-doc set (Bloom has no false negatives; "
    "the confirm join kills false positives) while the shuffle carries "
    "~0.1% of the 100 TB train shingle volume instead of all of it. "
    "Same flag semantics as txt_decontaminate_train's drop set, emitted "
    "as (doc_id, n_overlap).",
)
def txt_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 10
    )
    sh = docs.withColumn("b", bucket).select(
        "doc_id", "b", F.explode(dd.shingles_of("text", 4)).alias("g")
    )
    eval_g = sh.filter(F.col("b") == 0).select("g").distinct().localCheckpoint()
    train_sh = sh.filter(F.col("b") != 0)
    maybe = txt.bloom_semi_prefilter(train_sh, "g", eval_g, "g")
    # r14: exact confirm as a SEMI join + plain count — eval_g is distinct
    # and shingles_of is per-doc distinct, so the inner join matched each
    # (doc_id, g) at most once and count(*) == countDistinct(g); the semi
    # form drops the distinct-aggregate expand machinery (same rebuild as
    # txt_decontaminate_train r11; oracle-verified).
    return (
        maybe.join(eval_g, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= 3)
    )


@query(
    "mm_jpeg_features",
    # with_jpeg_content: every 8x8 block b of doc_id's image is the
    # constant ((doc_id + 13*b)*37) % 256; a matching mean proves the
    # Huffman entropy decode, dequant, zigzag undo, and IDCT recovered
    # every pixel exactly (DC-only blocks reconstruct bit-exactly under
    # the all-ones quant table).
    "WITH d AS (SELECT doc_id, (doc_id % 3 + 1) * 8 AS w, "
    "(doc_id % 2 + 1) * 8 AS h FROM documents), "
    "g AS (SELECT range AS b FROM range(0, 6)) "
    "SELECT doc_id, w AS width, h AS height, "
    "round(sum(((doc_id + 13 * b) * 37) % 256) * 64 / (w * h), 6) AS mean_r, "
    "round(sum(((doc_id + 13 * b) * 37) % 256) * 64 / (w * h), 6) AS mean_g, "
    "round(sum(((doc_id + 13 * b) * 37) % 256) * 64 / (w * h), 6) AS mean_b "
    "FROM d JOIN g ON g.b < (w // 8) * (h // 8) GROUP BY doc_id, w, h",
    doc="REAL baseline JPEG decode + features — the transform codec that "
    "completes the format ladder (netpbm/BMP/WAV layout-only, GIF LZW, "
    "PNG DEFLATE, JPEG DCT+Huffman), hand-rolled on numpy/struct with "
    "zero image libraries: encode_jpeg writes genuine Annex-K Huffman "
    "streams over quantized zigzag DCT coefficients with 0xFF stuffing, "
    "and the Arrow feature stage bit-decodes them back. The test corpus "
    "uses constant 8x8 blocks whose DC-only spectra reconstruct "
    "EXACTLY under the all-ones quant table, making the channel means "
    "arithmetic on doc_id (grayscale reports the same mean on r/g/b); "
    "lossy behavior on general content is covered by bounded-error "
    "tests in test_round8_ops.",
)
def mm_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return mm.image_features(mm.with_jpeg_content(docs))


@query(
    "sim_maxsim_topk",
    "WITH t AS (SELECT vec_id, vec_id // 4 AS doc_id, "
    "embedding::DOUBLE[] AS v, "
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm "
    "FROM embeddings), "
    "q AS (SELECT vec_id, doc_id AS qdoc, v, nrm FROM t WHERE vec_id < 8), "
    "c AS (SELECT q.qdoc, q.vec_id AS qv, t.doc_id, "
    "max(list_dot_product(t.v, q.v) / (t.nrm * q.nrm)) AS m "
    "FROM t CROSS JOIN q GROUP BY 1, 2, 3), "
    "s AS (SELECT qdoc, doc_id, "
    "SUM(CAST(round(m * 1000000, 0) AS BIGINT))::BIGINT AS maxsim_x1m "
    "FROM c GROUP BY 1, 2) "
    "SELECT qdoc AS query_doc, doc_id, maxsim_x1m FROM ("
    "SELECT *, row_number() OVER (PARTITION BY qdoc "
    "ORDER BY maxsim_x1m DESC, doc_id) AS rn FROM s) WHERE rn <= 5",
    headline=True,
    doc="Multi-vector late-interaction retrieval (ColBERT MaxSim, public "
    "method): docs and queries are bags of token vectors (vec_id div 4 "
    "groups the embeddings table into 4-token docs), score = sum over "
    "query tokens of the best-matching doc-token cosine. The missing "
    "retrieval paradigm next to single-vector ANN (sim_*_topk) — "
    "operators/similarity.py maxsim_topk: partition-partial per-(doc, "
    "qtoken) maxima in one Arrow pass (max is associative; shuffle "
    "carries docs x query-tokens, never token x token), per-token "
    "maxima to integer micros BEFORE the sum so the score is an "
    "order-free BIGINT.",
)
def sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    toks = e.select(F.expr("vec_id div 4").alias("doc_id"), "embedding")
    qt = e.filter(F.col("vec_id") < 8).select(
        F.expr("vec_id div 4").alias("query_doc"), "embedding"
    )
    return sim.maxsim_topk(toks, qt, k=5)


#: Benford first-digit expectations in integer micros, precomputed in
#: Python so neither engine's libm log10 is in the compared output.
_BENFORD_X1M = {
    d: round(__import__("math").log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
}
_BENFORD_CASE = (
    "CASE first_digit "
    + " ".join(f"WHEN {d} THEN {v}" for d, v in _BENFORD_X1M.items())
    + " END"
)


@query(
    "dq_benford_check",
    "WITH t AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) "
    "AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS first_digit FROM orders), "
    "n AS (SELECT count(*)::BIGINT AS total FROM t) "
    "SELECT first_digit, count(*)::BIGINT AS n, "
    "((count(*) * 1000000) // n.total)::BIGINT AS share_x1m, "
    f"{_BENFORD_CASE}::BIGINT AS benford_x1m "
    "FROM t CROSS JOIN n GROUP BY first_digit, n.total",
    doc="Benford's-law first-significant-digit profile of order totals — "
    "the classic fraud/synthetic-data screen (public method). Observed "
    "share as an exact integer ratio (count*1e6 div total); the Benford "
    "expectation log10(1+1/d) is PRECOMPUTED in Python and emitted as a "
    "literal on both sides, so no engine libm is in the compared "
    "output. One map-side digit extract + a 9-row aggregate.",
)
def dq_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    t = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("first_digit")
    )
    total = t.count()  # scalar literal, like txt_tfidf's n_docs
    expect = F.coalesce(
        *[
            F.when(F.col("first_digit") == d, F.lit(v))
            for d, v in _BENFORD_X1M.items()
        ]
    )
    return (
        t.groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "first_digit",
            "n",
            F.expr(f"(n * 1000000) div {total}L").alias("share_x1m"),
            expect.cast("bigint").alias("benford_x1m"),
        )
    )


@query(
    "evt_cohort_ltv",
    "WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week "
    "FROM events GROUP BY user_id), "
    "wk AS (SELECT e.user_id, f.cohort_week, "
    "CAST(datediff('day', f.cohort_week, date_trunc('week', e.ts)) // 7 "
    "AS BIGINT) AS week_offset, "
    "CAST(round(e.value * 100, 0) AS BIGINT) AS cents "
    "FROM events e JOIN f USING (user_id)), "
    "g AS (SELECT cohort_week, week_offset, sum(cents)::BIGINT AS rev_cents "
    "FROM wk GROUP BY 1, 2) "
    "SELECT cohort_week, week_offset, rev_cents, "
    "CAST(sum(rev_cents) OVER (PARTITION BY cohort_week ORDER BY week_offset "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS cum_rev_cents FROM g",
    doc="Cohort lifetime-value curves: per signup-week cohort, weekly and "
    "CUMULATIVE revenue by week offset — the monetization companion of "
    "evt_retention_cohorts (same first-touch cohort join), in exact "
    "integer cents end-to-end (sums and the running window are "
    "order-free BIGINT). One user-keyed min + one join + one tiny "
    "cohort-week window.",
)
def evt_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    wk = ev.join(f, "user_id").select(
        "cohort_week",
        (
            F.datediff(
                F.date_trunc("week", F.col("ts")).cast("date"),
                F.col("cohort_week"),
            )
            / 7
        )
        .cast("bigint")
        .alias("week_offset"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    g = wk.groupBy("cohort_week", "week_offset").agg(
        F.sum("cents").alias("rev_cents")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        "cohort_week",
        "week_offset",
        F.col("rev_cents").cast("bigint"),
        F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
    )


def _bfs_oracle_sql(source: str, hops: int) -> str:
    """Unrolled multi-source BFS min-plus relaxation in DuckDB SQL,
    mirroring graph.bfs_hops' integer iteration exactly."""
    sql = (
        "WITH seq AS (SELECT event_type AS src, lead(event_type) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events), "
        "e AS (SELECT DISTINCT src, dst FROM seq WHERE dst IS NOT NULL), "
        f"d0 AS (SELECT '{source}' AS node, 0::BIGINT AS hops)"
    )
    for k in range(1, hops + 1):
        p = k - 1
        sql += (
            f", d{k} AS (SELECT node, min(hops)::BIGINT AS hops FROM ("
            f"SELECT node, hops FROM d{p} UNION ALL "
            f"SELECT e.dst AS node, p.hops + 1 AS hops "
            f"FROM e JOIN d{p} p ON e.src = p.node) GROUP BY node)"
        )
    return sql + f" SELECT node, hops FROM d{hops}"


@query(
    "evt_bfs_hops",
    _bfs_oracle_sql("click", 4),
    headline=True,
    doc="Multi-source BFS hop distance (here: how many event transitions "
    "separate each event type from 'click') via the frontier-free "
    "min-plus relaxation in operators/graph.py bfs_hops — the reach/"
    "influence companion of evt_pagerank on the same transition graph, "
    "and the second iterative-algorithm shape (min-plus vs weighted-sum) "
    "the oracle pins through an unrolled-CTE twin. All-integer state -> "
    "bit-stable at any partitioning; per iteration one src-keyed join + "
    "one min aggregate, lineage checkpointed every 4.",
)
def evt_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    sources = spark.createDataFrame([("click",)], "node string")
    # checkpoint_every=2: halves the nested union+join lineage the final
    # plan carries (31 -> ~15 exchanges) for one extra tiny-state job
    return gr.bfs_hops(edges, sources, max_hops=4, checkpoint_every=2)


@query(
    "rel_skyline_3d",
    "WITH s AS (SELECT l_orderkey, l_linenumber, "
    "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents, "
    "datediff('day', TIMESTAMP '1970-01-01', l_shipdate)::BIGINT AS day_no, "
    "10000 - CAST(round(l_discount * 10000, 0) AS BIGINT) AS inv_disc_bp "
    "FROM lineitem WHERE l_orderkey % 20 = 0) "
    "SELECT l_orderkey, l_linenumber, price_cents, day_no, inv_disc_bp "
    "FROM s q WHERE NOT EXISTS (SELECT 1 FROM s p "
    "WHERE p.price_cents <= q.price_cents AND p.day_no <= q.day_no "
    "AND p.inv_disc_bp <= q.inv_disc_bp AND (p.price_cents < q.price_cents "
    "OR p.day_no < q.day_no OR p.inv_disc_bp < q.inv_disc_bp))",
    doc="3-criteria skyline (cheapest, earliest-shipped, best-discount "
    "line items; discount maximized via the 10000-bp complement so all "
    "criteria minimize) through the GENERAL d-dimensional two-stage "
    "operator (graph.skyline_nd: lex-sorted forward scan against the "
    "growing front — a dominator always lex-precedes its victims — "
    "local fronts, checkpointed union, guarded one-task final pass). "
    "The oracle is the O(n^2) NOT-EXISTS definition, runnable because "
    "the query pins a 1-in-20 orderkey subset; the operator itself "
    "never goes quadratic in the corpus — per-point cost is the front "
    "width, and the 2-D prefix-min fast path stays in skyline_2d.",
)
def rel_skyline_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("price_cents"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.to_date(F.lit("1970-01-01"))
            )
            .cast("bigint")
            .alias("day_no"),
            (10000 - F.round(F.col("l_discount") * 10000, 0).cast("bigint")).alias(
                "inv_disc_bp"
            ),
        )
    )
    return gr.skyline_nd(li, ["price_cents", "day_no", "inv_disc_bp"])


@query(
    "evt_trend_slope",
    "WITH d AS (SELECT event_type, "
    "datediff('day', TIMESTAMP '1970-01-01', date_trunc('day', ts))::BIGINT "
    "AS day_no, count(*)::BIGINT AS n FROM events GROUP BY 1, 2) "
    "SELECT event_type, count(*)::BIGINT AS n_days, "
    "(count(*) * sum(day_no * n) - sum(day_no) * sum(n))::BIGINT "
    "AS slope_num, "
    "(count(*) * sum(day_no * day_no) - sum(day_no) * sum(day_no))::BIGINT "
    "AS slope_den "
    "FROM d GROUP BY event_type",
    doc="Per-series least-squares trend: OLS slope of daily event counts "
    "over the day number, emitted as the EXACT integer numerator/"
    "denominator pair (slope = num/den) — the closed-form normal "
    "equations are all integer sums of integer products, so the trend "
    "test (sign, magnitude comparisons across series) is bit-exact with "
    "no FP anywhere. Headroom: n_days*sum(day*n) <= 1e3 * (2e4*1e6*1e3) "
    "= 2e16 at a thousand days of a million events/day. One day-rollup "
    "shuffle + one tiny per-series aggregate; the volume-trend "
    "complement of evt_robust_anomaly_mad's level test.",
)
def evt_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        .cast("bigint")
        .alias("day_no"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (
            F.count(F.lit(1)) * F.sum(F.col("day_no") * F.col("n"))
            - F.sum("day_no") * F.sum("n")
        )
        .cast("bigint")
        .alias("slope_num"),
        (
            F.count(F.lit(1)) * F.sum(F.col("day_no") * F.col("day_no"))
            - F.sum("day_no") * F.sum("day_no")
        )
        .cast("bigint")
        .alias("slope_den"),
    )


@query(
    "evt_cusum_changepoint",
    "WITH d AS (SELECT event_type, "
    "datediff('day', TIMESTAMP '1970-01-01', date_trunc('day', ts))::BIGINT "
    "AS day_no, count(*)::BIGINT AS n FROM events GROUP BY 1, 2), "
    "t AS (SELECT event_type, count(*)::BIGINT AS nd, sum(n)::BIGINT AS s "
    "FROM d GROUP BY 1), "
    "c AS (SELECT d.event_type, d.day_no, "
    "sum(t.nd * d.n - t.s) OVER (PARTITION BY d.event_type ORDER BY d.day_no "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cusum "
    "FROM d JOIN t USING (event_type)) "
    "SELECT event_type, day_no AS change_day_no, cusum AS cusum_peak "
    "FROM (SELECT *, row_number() OVER (PARTITION BY event_type "
    "ORDER BY abs(cusum) DESC, day_no) AS rn FROM c) WHERE rn = 1",
    doc="CUSUM changepoint detection per event series: the day where the "
    "cumulative deviation from the series mean peaks — the classic "
    "level-shift locator (public method: CUSUM charts). Exactness trick: "
    "deviations are scaled by the day count (nd*x_i - S is the "
    "nd-scaled x_i - mean), keeping the running sum all-BIGINT — means "
    "are rational, scaled means are integers. One day rollup, one tiny "
    "per-series total, one keyed running window, one argmax window; "
    "everything after the rollup is |series| x |days| sized.",
)
def evt_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        .cast("bigint")
        .alias("day_no"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # r13 planlint sweep (4 -> 2, and ONE scan instead of two): the
    # per-type totals were a groupBy + self-join — a duplicated d
    # subtree with its own pair of exchanges. As unbounded WINDOW
    # aggregates they ride the same event_type exchange the running
    # cusum and the peak-argmax window already need (the r10 IQR-screen
    # lesson applied again).
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        d.withColumn("nd", F.count(F.lit(1)).over(wall).cast("bigint"))
        .withColumn("s", F.sum("n").over(wall).cast("bigint"))
        .withColumn(
            "cusum",
            F.sum(F.col("nd") * F.col("n") - F.col("s")).over(wrun).cast("bigint"),
        )
    )
    wmax = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day_no")
    )
    return (
        c.withColumn("rn", F.row_number().over(wmax))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day_no").alias("change_day_no"),
            F.col("cusum").alias("cusum_peak"),
        )
    )


def _zorder_sql(c1: str, c2: str, bits: int) -> str:
    """DuckDB twin of relational.zorder_key for two columns: the same
    shift/mask/or interleave, generated as one expression."""
    # DuckDB gives <<, >>, &, | ONE precedence level (left-assoc), so every
    # term must be fully parenthesized or `a | b << k` parses as (a|b) << k
    mask = (1 << bits) - 1
    terms = []
    for b in range(bits):
        terms.append(f"(((({c1} & {mask}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({c2} & {mask}) >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(terms) + ")"


@query(
    "rel_zorder_clustering",
    "WITH b AS (SELECT l_partkey % 256 AS pk8, l_suppkey % 256 AS sk8 "
    "FROM lineitem), "
    "z AS (SELECT pk8, sk8, "
    f"{_zorder_sql('pk8', 'sk8', 8)}::BIGINT AS zkey FROM b) "
    "SELECT (zkey >> 8)::BIGINT AS zbucket, count(*)::BIGINT AS n, "
    "min(pk8)::BIGINT AS min_pk, max(pk8)::BIGINT AS max_pk, "
    "min(sk8)::BIGINT AS min_sk, max(sk8)::BIGINT AS max_sk "
    "FROM z GROUP BY 1",
    doc="Z-order (Morton) clustering audit: range-normalize l_partkey "
    "and l_suppkey to 8-bit buckets (the operator's documented contract "
    "for unbounded domains), interleave them with relational.zorder_key "
    "(the OPTIMIZE-ZORDER technique, public method), bucket by the "
    "key's top byte, and report each bucket's 2-D bounding box — tight "
    "rectangles on BOTH dimensions are exactly what makes parquet "
    "row-group skipping fire for predicates on EITHER key after a "
    "zorder_layout rewrite (a lexicographic sort only bounds the "
    "leading column). Pure codegen bit arithmetic, identical in any "
    "engine; one aggregate, zero joins. Pruning economics measured in "
    "SCALE_NOTES round-8.",
)
def rel_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        (F.col("l_partkey") % 256).alias("pk8"),
        (F.col("l_suppkey") % 256).alias("sk8"),
    )
    z = b.withColumn("zkey", rel.zorder_key(["pk8", "sk8"], bits=8))
    return z.groupBy(
        F.shiftright("zkey", 8).cast("bigint").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("pk8").cast("bigint").alias("min_pk"),
        F.max("pk8").cast("bigint").alias("max_pk"),
        F.min("sk8").cast("bigint").alias("min_sk"),
        F.max("sk8").cast("bigint").alias("max_sk"),
    )


@query(
    "txt_bpe_top_pairs",
    "WITH w AS (SELECT lower(t.tok) AS w, count(*)::BIGINT AS c FROM ("
    "SELECT unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents) t "
    "WHERE regexp_matches(lower(t.tok), '^[a-z]+$') GROUP BY 1), "
    "s AS (SELECT list_append(string_split(w, ''), '</w>') AS syms, c FROM w), "
    "p AS (SELECT syms[i] AS a, syms[i+1] AS b, c FROM s, "
    "unnest(range(1, len(syms))) AS u(i)) "
    "SELECT a, b, sum(c)::BIGINT AS pair_count FROM p GROUP BY a, b "
    "ORDER BY pair_count DESC, a, b LIMIT 20",
    doc="BPE training, step zero: frequency-weighted adjacent symbol-pair "
    "counts over the word-type vocabulary (chars + the </w> end marker) "
    "— the argmax of this table is the first merge operators/text.py "
    "bpe_train learns (Sennrich et al. 2016, public method). The "
    "iterative trainer itself is pytest-pinned to the paper's textbook "
    "merge sequence (tests/test_round8_ops.py) because post-merge "
    "symbol substitution is a sequential per-word scan no SQL engine "
    "expresses; this query pins the distributed core of every round "
    "(word-type collapse -> pair explode -> weighted count) under the "
    "full value-hash oracle. Iteration cost scales with VOCABULARY "
    "(word types), not corpus size — the property that makes corpus-"
    "scale BPE training tractable.",
)
def txt_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(txt.tokens_of("text")).alias("tok"))
        .select(F.lower("tok").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = w.select(
        F.concat(F.split("w", ""), F.array(F.lit("</w>"))).alias("syms"), "c"
    )
    p = s.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(syms[i-1] AS a, syms[i] AS b))"
            )
        ).alias("pr"),
        "c",
    ).select("pr.a", "pr.b", "c")
    agg = p.groupBy("a", "b").agg(F.sum("c").cast("bigint").alias("pair_count"))
    return rel.top_k(agg, 20, [F.col("pair_count").desc(), F.col("a"), F.col("b")])


@query(
    "dq_accepted_values",
    "SELECT * FROM ("
    "SELECT 'l_returnflag_domain' AS rule, count(*)::BIGINT AS n_rows, "
    "count(*) FILTER (l_returnflag NOT IN ('A','N','R') "
    "OR l_returnflag IS NULL)::BIGINT AS n_violations FROM lineitem "
    "UNION ALL SELECT 'l_linestatus_domain', count(*)::BIGINT, "
    "count(*) FILTER (l_linestatus NOT IN ('O','F') "
    "OR l_linestatus IS NULL)::BIGINT FROM lineitem "
    "UNION ALL SELECT 'l_quantity_range', count(*)::BIGINT, "
    "count(*) FILTER (l_quantity NOT BETWEEN 1 AND 50 "
    "OR l_quantity IS NULL)::BIGINT FROM lineitem "
    "UNION ALL SELECT 'l_discount_range', count(*)::BIGINT, "
    "count(*) FILTER (l_discount NOT BETWEEN 0 AND 0.1 "
    "OR l_discount IS NULL)::BIGINT FROM lineitem "
    "UNION ALL SELECT 'o_orderstatus_domain', count(*)::BIGINT, "
    "count(*) FILTER (o_orderstatus NOT IN ('O','F','P') "
    "OR o_orderstatus IS NULL)::BIGINT FROM orders "
    "UNION ALL SELECT 'o_orderpriority_format', count(*)::BIGINT, "
    "count(*) FILTER (NOT regexp_matches(o_orderpriority, '^[1-5]-') "
    "OR o_orderpriority IS NULL)::BIGINT FROM orders"
    ")",
    doc="dbt-style accepted-values / range conformance audit "
    "(operators/quality.py expectations_report): all checks per table "
    "evaluate in ONE conditional aggregate (a scan per TABLE, not per "
    "rule — at 100 TB the N-rules-one-pass property is the whole "
    "operator), unpivoted via stack to a long-form (rule, n_rows, "
    "n_violations) audit the run log can persist. Null coerces to "
    "violation per SQL three-valued logic, matching check_expectations.",
)
def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        accepted_values,
        expectations_report,
        in_range,
    )

    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    l_rules = {
        "l_returnflag_domain": accepted_values("l_returnflag", "ANR")[
            "l_returnflag_domain"
        ],
        "l_linestatus_domain": accepted_values("l_linestatus", "OF")[
            "l_linestatus_domain"
        ],
        "l_quantity_range": in_range("l_quantity", 1, 50)["l_quantity_range"],
        "l_discount_range": in_range("l_discount", 0, 0.1)["l_discount_range"],
    }
    o_rules = {
        "o_orderstatus_domain": accepted_values("o_orderstatus", "OFP")[
            "o_orderstatus_domain"
        ],
        "o_orderpriority_format": F.col("o_orderpriority").rlike("^[1-5]-"),
    }
    return expectations_report(l, l_rules).unionByName(
        expectations_report(o, o_rules)
    )


@query(
    "wm_cdc_tombstone_state",
    # snapshot(<=cut) + delta(>cut) apply == one newest-wins pass over the
    # full changelog with the winner dropped when it is a delete
    "WITH r AS (SELECT user_id, ts, event_type, event_id, "
    "row_number() OVER (PARTITION BY user_id "
    "ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
    "SELECT user_id, ts AS last_ts, event_type AS last_type FROM r "
    "WHERE rn = 1 AND event_type <> 'error'",
    doc="Tombstone-aware CDC apply (operators/merge.py apply_changes — "
    "the Debezium/APPLY CHANGES composition the reference's latest-state "
    "upsert lacks, staging_repo.py:60-92 only upserts): the events "
    "changelog maps 'error' to a delete op; a compacted snapshot is "
    "built at the watermark cut (tombstone winners dropped), then the "
    "post-cut delta applies on top — newest row per user wins, a "
    "winning tombstone removes the user. The oracle replays the FULL "
    "changelog in one pass, pinning the compose-equals-replay law "
    "(compaction only drops rows that can never win). One key shuffle "
    "per apply; delta-sized input per incremental run.",
)
def wm_cdc_tombstone_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.merge import apply_changes

    _utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    op = F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U"))
    hist = ev.filter(F.col("ts") <= F.lit(EVENTS_CUT)).withColumn("op", op)
    delta = ev.filter(F.col("ts") > F.lit(EVENTS_CUT)).withColumn("op", op)
    snap = apply_changes(None, hist, "user_id", ["ts", "event_id"])
    state = apply_changes(snap, delta, "user_id", ["ts", "event_id"])
    return state.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
    )


@query(
    "txt_cms_heavy_shingles",
    "WITH t AS (SELECT regexp_extract_all(text, '\\S+') AS tk FROM documents), "
    "g AS (SELECT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] "
    "AS shingle FROM t, unnest(range(1, len(tk) - 2)) AS u(i)) "
    "SELECT shingle, count(*)::BIGINT AS n FROM g GROUP BY shingle "
    "HAVING count(*) >= 3",
    doc="Boilerplate-phrase detection as EXACT heavy hitters at sketch "
    "cost: 4-gram shingles (multiplicity-keeping shingles_of) with "
    "global count >= 3, found by operators/text.py cms_heavy_keys — a "
    "count-min sketch (Cormode-Muthukrishnan, public method) whose "
    "full-corpus aggregation is depth x width cells (map-side partials, "
    "~16k-row shuffle at ANY corpus size), then a map-side broadcast "
    "prefilter so only rows in all-heavy cells reach the exact-confirm "
    "key shuffle. CMS never undercounts -> no false negatives; the "
    "exact confirm kills collision false positives -> output equals the "
    "oracle's plain GROUP BY. Completes the sketch family (HLL "
    "distinct, Bloom membership, CMS frequency).",
)
def txt_cms_heavy_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        F.explode(dd.shingles_of("text", 4, distinct=False)).alias("shingle")
    )
    return txt.cms_heavy_keys(sh, "shingle", threshold=3)


# ---------------------------------------------------------------------------
# round 9: graph mining, association rules, robust stats, spatial blocking
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = (
    "WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it "
    "FROM lineitem), "
    "e AS (SELECT DISTINCT a.it AS a, b.it AS b FROM bi a "
    "JOIN bi b ON a.bk = b.bk AND a.it < b.it), "
    "deg AS (SELECT n, count(*)::BIGINT AS d FROM "
    "(SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n), "
    "o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) "
    "THEN e.a ELSE e.b END AS lo, "
    "CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) "
    "THEN e.b ELSE e.a END AS hi "
    "FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n), "
    "w AS (SELECT o1.hi AS y, o2.hi AS z FROM o o1 "
    "JOIN o o2 ON o1.lo = o2.lo AND o1.hi <> o2.hi), "
    "t AS (SELECT count(*)::BIGINT AS n_triangles FROM w "
    "WHERE EXISTS (SELECT 1 FROM o WHERE o.lo = w.y AND o.hi = w.z)), "
    "c AS (SELECT count(*)::BIGINT AS n_edges FROM e), "
    "nw AS (SELECT count(*)::BIGINT AS n_nodes, "
    "coalesce(sum((d * (d - 1)) // 2), 0)::BIGINT AS n_wedges FROM deg) "
    "SELECT n_nodes, n_edges, n_wedges, n_triangles, "
    "(CASE WHEN n_wedges > 0 THEN (3 * n_triangles * 1000000) // n_wedges "
    "ELSE 0 END)::BIGINT AS clustering_x1e6 FROM nw, c, t"
)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase edge list (parts sharing an order are
    adjacent), built the node-iterator way (same trick that won the
    census wedge stage — SCALE_NOTES r10): ONE groupBy aggregates each
    basket's distinct items into a sorted array straight off the scan
    (collect_set dedups in the aggregate, so no pre-distinct pass), the
    C(size, 2) pairs emit MAP-SIDE via a double posexplode with i < j,
    then one distinct. Two exchanges total vs the basket self-join's
    four (distinct + two at the join + distinct); measured equal edge
    sets and ~10% faster at sf0.1, with the removed exchanges the real
    win at scale. Null basket/item keys are filtered up front — the
    self-join form dropped them implicitly and a null GROUP would
    otherwise pair its items."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .groupBy(F.col("l_orderkey").alias("bk"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("its"))
    )
    return (
        baskets.select("its", F.posexplode("its").alias("i", "src"))
        # r14: tail-slice explode emits exactly the C(size, 2) ordered
        # pairs instead of generating all size^2 (i, j) rows and
        # filtering to j > i (same rewrite as the census wedge
        # generator — guide §1.2 per-task work; rows out unchanged)
        .select(
            "src",
            F.explode(
                F.slice(F.col("its"), F.col("i") + F.lit(2), F.size("its"))
            ).alias("dst"),
        )
        .distinct()
    )


@query(
    "rel_copurchase_triangles",
    _TRIANGLE_ORACLE,
    headline=True,
    doc="Exact triangle census + global clustering coefficient of the "
    "part co-purchase graph (parts co-occurring in an order are "
    "adjacent) via operators/graph.py triangle_stats: degree-ordered "
    "edge orientation (Schank-Wagner / Suri-Vassilvitskii, public "
    "methods) bounds every wedge-join key by the oriented out-degree "
    "O(sqrt(m)), so hub items cannot quadratically explode the plan — "
    "the property that makes triangle counting feasible on a 100 TB "
    "co-occurrence graph. Each triangle counts exactly once (the "
    "oriented closure edge exists in precisely one of the two wedge "
    "directions) with no global ordering key materialized. Clustering "
    "coefficient is exact scaled-integer (3*tri*1e6 div wedges).",
)
def rel_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # assume_canonical: _copurchase_edges emits distinct src < dst pairs
    # (ordered posexplode over collect_set arrays, nulls pre-filtered), so
    # the census skips its re-canonicalization exchange (r14, guide §2.4).
    return gr.triangle_stats(
        _copurchase_edges(spark, sf_dir), assume_canonical=True
    )


@query(
    "rel_market_basket",
    "WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it "
    "FROM lineitem "
    "WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL), "
    "nb AS (SELECT count(DISTINCT bk) AS n FROM bi), "
    "p AS (SELECT a.it AS item_a, b.it AS item_b, count(*)::BIGINT AS "
    "n_pairs FROM bi a JOIN bi b ON a.bk = b.bk AND a.it < b.it "
    "GROUP BY 1, 2 HAVING count(*) >= 2), "
    "m AS (SELECT it, count(*)::BIGINT AS m FROM bi GROUP BY it) "
    "SELECT item_a, item_b, n_pairs, "
    "((n_pairs * 1000000) // nb.n)::BIGINT AS supp_x1e6, "
    "((n_pairs * 1000000) // ma.m)::BIGINT AS conf_a_b_x1e6, "
    "((((n_pairs * 1000000) // ma.m) * nb.n) // mb.m)::BIGINT AS lift_x1e6 "
    "FROM p JOIN m ma ON p.item_a = ma.it JOIN m mb ON p.item_b = mb.it "
    "CROSS JOIN nb",
    doc="Association rules at the pair level (Apriori's pairs stage — "
    "Agrawal & Srikant, public method) over order baskets: "
    "co-purchased part pairs with support, confidence and lift as "
    "EXACT staged-integer scores (operators/relational.py "
    "market_basket_pairs; same div-staging contract as "
    "txt_collocations_pmi, conf <= 1e6 by construction so lift stays "
    "in BIGINT to ~9e12 baskets). One basket-key shuffle generates "
    "pairs (fan-out bounded by basket size choose 2), margins join "
    "back by item key — no all-pairs work anywhere.",
)
def rel_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return rel.market_basket_pairs(
        li, "l_orderkey", "l_partkey", min_pair_count=2
    ).select(
        F.col("item_a"),
        F.col("item_b"),
        "n_pairs",
        "supp_x1e6",
        "conf_a_b_x1e6",
        "lift_x1e6",
    )


@query(
    "rel_weighted_median",
    "WITH s AS (SELECT l_returnflag, "
    "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v, "
    "CAST(l_quantity AS BIGINT) AS w FROM lineitem), "
    "c AS (SELECT l_returnflag, v, "
    "sum(w) OVER (PARTITION BY l_returnflag ORDER BY v "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
    "sum(w) OVER (PARTITION BY l_returnflag) AS tot FROM s) "
    "SELECT l_returnflag, min(v)::BIGINT AS w_median FROM c "
    "WHERE 2 * cum >= tot GROUP BY l_returnflag",
    doc="Exact quantity-weighted median unit price (cents) per return "
    "flag via operators/relational.py weighted_median: one "
    "partition-by-group sort carries both the running weight sum and "
    "the group total, then min value with 2*cum >= total. "
    "Deterministic under ties because a VALUE qualifies iff its "
    "LAST tied row qualifies, and that prefix sum is tie-order-"
    "independent — so the exact integer comparison never depends on "
    "partitioning. The robust location stat approx_percentile cannot "
    "give bit-reproducibly; weighted by quantity it answers what a "
    "typical UNIT sold for, not a typical order line.",
)
def rel_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return rel.weighted_median(li, "l_returnflag", "cents", "qty").select(
        "l_returnflag", "w_median"
    )


#: ACF lags: 1-3 screen short-range structure; 7 is the weekday period —
#: the reading that justifies evt_volume_anomaly_dow's same-weekday
#: baseline (VERDICT r9 #6).
ACF_LAGS = (1, 2, 3, 7)

_ACF_ORACLE = (
    "WITH d AS (SELECT date_trunc('day', ts)::DATE AS day, "
    "count(*)::BIGINT AS x FROM events GROUP BY day), "
    "l AS (SELECT x, "
    + ", ".join(
        f"lead(x, {k}) OVER (ORDER BY day) AS x{k}" for k in ACF_LAGS
    )
    + " FROM d) "
    + " UNION ALL ".join(
        "(SELECT {k} AS lag, round("
        "(n * sxy - sx * sy) / sqrt("
        "(n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf "
        "FROM (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, "
        "sum(x{k})::BIGINT AS sy, sum(x * x)::BIGINT AS sxx, "
        "sum(x{k} * x{k})::BIGINT AS syy, sum(x * x{k})::BIGINT AS sxy "
        "FROM l WHERE x{k} IS NOT NULL))".format(k=k)
        for k in ACF_LAGS
    )
)


@query(
    "evt_autocorrelation",
    _ACF_ORACLE,
    doc="Autocorrelation of the daily event-count series at lags 1-3 "
    "and 7 (the seasonality screen run before picking an anomaly "
    "baseline — the lag-7 reading is the one that justifies "
    "evt_volume_anomaly_dow's same-weekday baseline, so it is "
    "measured, not assumed). Pearson r over (x_t, x_{t+k}) pairs with "
    "EVERY sum accumulated in exact BIGINT (counts are integers; "
    "n*sxy-style moments are order-free integer arithmetic), so the "
    "only FP is the final ratio/sqrt — single correctly-rounded IEEE "
    "ops on identical integers, deterministic cross-engine, rounded "
    "6dp. Day-level pre-aggregation collapses the scan map-side to "
    "~series-length rows; one fused conditional aggregate computes all "
    "four lags' moments in a single pass (r13: 4 scalar exchanges -> 1).",
)
def evt_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.orderBy("day")
    led = daily.select(
        "x",
        *[F.lead("x", k).over(w).alias(f"x{k}") for k in ACF_LAGS],
    )
    # r13: ONE fused conditional aggregate computes every lag's six
    # moments in a single pass (all BIGINT, order-free) instead of four
    # per-lag scalar aggregates — 4 SinglePartition exchanges -> 1, and
    # the localCheckpoint the legs existed to share goes away. Lag rows
    # come back via stack on the one-row result.
    aggs = []
    for k in ACF_LAGS:
        xk = F.col(f"x{k}")
        on = xk.isNotNull()
        aggs += [
            F.sum(F.when(on, 1).otherwise(0)).alias(f"n_{k}"),
            F.sum(F.when(on, F.col("x"))).alias(f"sx_{k}"),
            F.sum(F.when(on, xk)).alias(f"sy_{k}"),
            F.sum(F.when(on, F.col("x") * F.col("x"))).alias(f"sxx_{k}"),
            F.sum(F.when(on, xk * xk)).alias(f"syy_{k}"),
            F.sum(F.when(on, F.col("x") * xk)).alias(f"sxy_{k}"),
        ]
    one = led.agg(*aggs)

    def _acf(k: int) -> Column:
        n, sx, sy = F.col(f"n_{k}"), F.col(f"sx_{k}"), F.col(f"sy_{k}")
        sxx, syy, sxy = (
            F.col(f"sxx_{k}"), F.col(f"syy_{k}"), F.col(f"sxy_{k}")
        )
        return F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        )

    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("lag"), _acf(k).alias("acf")
            )
            for k in ACF_LAGS
        ]
    )
    return one.select(F.explode(pairs).alias("p")).select("p.lag", "p.acf")


_SP_ORACLE = (
    "WITH t AS (SELECT event_type AS src, lead(event_type) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events), "
    "e AS (SELECT src, dst, (1000000000 // count(*))::BIGINT AS c "
    "FROM t WHERE dst IS NOT NULL GROUP BY src, dst), "
    "d0 AS (SELECT 'click' AS node, 0::BIGINT AS dist), "
    + " ".join(
        f"d{k} AS (SELECT node, min(dist)::BIGINT AS dist FROM ("
        f"SELECT node, dist FROM d{k-1} UNION ALL "
        f"SELECT e.dst AS node, d.dist + e.c AS dist "
        f"FROM d{k-1} d JOIN e ON d.node = e.src) GROUP BY node),"
        for k in (1, 2, 3, 4)
    ).rstrip(",")
    + " SELECT node, dist AS dist_cost FROM d4"
)


@query(
    "evt_shortest_path_weighted",
    _SP_ORACLE,
    doc="Weighted shortest path from the 'click' event type over the "
    "session-transition graph, edge cost = 1e9 div transition_count "
    "(frequent transitions are cheap), 4 relaxation rounds — the "
    "likeliest-path-to-state query behind funnel diagnostics, as the "
    "GENERIC operators/graph.py shortest_paths operator: bounded "
    "Bellman-Ford min-plus relaxation in pure BIGINT (bfs_hops' exact "
    "contract, now with costs), one src-key shuffle + one min "
    "aggregate per round distributed, or the driver-local loop for "
    "broadcast-sized graphs under auto-dispatch — bit-identical "
    "either way. The oracle is the same recurrence unrolled as "
    "chained CTEs.",
)
def evt_shortest_path_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.expr("1000000000 div count(1)").alias("cost"))
    )
    sources = spark.createDataFrame([("click",)], "node string")
    return gr.shortest_paths(edges, sources, max_hops=4)


@query(
    "rel_geo_grid_join",
    "WITH c AS (SELECT c_custkey, "
    "(c_custkey * 48271) % 100000 AS x, "
    "(c_custkey * 69621) % 100000 AS y FROM customer), "
    "s AS (SELECT s_suppkey, "
    "(s_suppkey * 48271) % 100000 AS x, "
    "(s_suppkey * 69621) % 100000 AS y FROM supplier) "
    "SELECT c.c_custkey, s.s_suppkey, "
    "((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y))::BIGINT "
    "AS dist2 FROM c JOIN s ON "
    "(c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= 4000000",
    doc="Spatial distance join (customers within radius 2000 of a "
    "supplier on a synthetic 100k x 100k integer plane, coordinates "
    "derived arithmetically from the keys so both engines compute "
    "identical points) via operators/relational.py grid_distance_join: "
    "uniform-grid blocking — each point keyed to its radius-sized "
    "cell, probe side exploded to the 3x3 neighborhood, pure EQUI-join "
    "on the cell id, exact integer residual dx^2+dy^2 <= r^2 (deltas "
    "cast to BIGINT before squaring — int32 coords cannot wrap). "
    "strategy='auto' (round 10) takes the broadcast nested-loop theta "
    "join instead when the right side is under the measured crossover "
    "(NLJ_MAX_RIGHT_ROWS; r9 A/B: 200k x 2k NLJ 2.8x faster, 2M x 50k "
    "grid 12.2x) — at THIS sf the supplier side is broadcast-sized so "
    "the NLJ runs; both paths are pair-identical (tested). The oracle "
    "is the naive theta join; the grid plan is the one that survives "
    "100 TB when NEITHER side broadcasts: shuffle keyed by "
    "dense-bounded cells, candidate work proportional to true neighbor "
    "density — the LSH-band idea applied to geometry.",
)
def rel_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % 100000).alias("x"),
        ((F.col("c_custkey") * 69621) % 100000).alias("y"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 48271) % 100000).alias("x"),
        ((F.col("s_suppkey") * 69621) % 100000).alias("y"),
    )
    return rel.grid_distance_join(c, s, radius=2000).select(
        F.col("l_c_custkey").alias("c_custkey"),
        F.col("r_s_suppkey").alias("s_suppkey"),
        "dist2",
    )


# ---------------------------------------------------------------------------
# round 10: per-node graph structure
# ---------------------------------------------------------------------------

_NODE_CLUSTERING_ORACLE = (
    "WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it "
    "FROM lineitem), "
    "e AS (SELECT DISTINCT a.it AS a, b.it AS b FROM bi a "
    "JOIN bi b ON a.bk = b.bk AND a.it < b.it), "
    "deg AS (SELECT n, count(*)::BIGINT AS d FROM "
    "(SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n), "
    "o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) "
    "THEN e.a ELSE e.b END AS lo, "
    "CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) "
    "THEN e.b ELSE e.a END AS hi "
    "FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n), "
    "w AS (SELECT o1.lo AS x, o1.hi AS y, o2.hi AS z FROM o o1 "
    "JOIN o o2 ON o1.lo = o2.lo AND o1.hi <> o2.hi), "
    "t3 AS (SELECT w.x, w.y, w.z FROM w "
    "JOIN o ON o.lo = w.y AND o.hi = w.z), "
    "tc AS (SELECT n, count(*)::BIGINT AS t FROM "
    "(SELECT unnest([x, y, z]) AS n FROM t3) GROUP BY n) "
    "SELECT deg.n AS node, deg.d::BIGINT AS degree, "
    "coalesce(tc.t, 0)::BIGINT AS n_tri, "
    "(CASE WHEN deg.d >= 2 THEN (coalesce(tc.t, 0) * 1000000) "
    "// ((deg.d * (deg.d - 1)) // 2) ELSE 0 END)::BIGINT "
    "AS clustering_x1e6 "
    "FROM deg LEFT JOIN tc ON deg.n = tc.n"
)


@query(
    "rel_node_clustering",
    _NODE_CLUSTERING_ORACLE,
    headline=True,  # joined r11 (series break #4)
    doc="Per-node triangle count + LOCAL clustering coefficient "
    "(Watts-Strogatz, public method) of the part co-purchase graph via "
    "operators/graph.py node_clustering: the SAME degree-ordered "
    "orientation and O(sqrt(m))-bounded wedge join as "
    "rel_copurchase_triangles' global census (shared _orient_edges/"
    "_ordered_wedges plan), but the closure probe is an inner "
    "equi-join whose survivors each ARE one triangle, charged to all "
    "three corners by a map-side explode and one count shuffle on the "
    "node key. clustering(v) = (triangles(v) * 1e6) div C(deg v, 2), "
    "exact staged integers — the per-page neighborhood-cliqueness "
    "signal crawl-quality curation joins back to pages (near-clique "
    "neighborhoods are template/link-farm shaped; high-degree "
    "low-clustering nodes are genuine hubs). The oracle emits wedges "
    "in both directions and lets the oriented closure edge pick "
    "exactly one — same count, naive form.",
)
def rel_node_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    # assume_canonical: same proof as rel_copurchase_triangles (r14).
    return gr.node_clustering(
        _copurchase_edges(spark, sf_dir), assume_canonical=True
    ).select("node", "degree", "n_tri", "clustering_x1e6")


@query(
    "txt_quality_classifier",
    "WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks "
    "FROM documents), "
    "s AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens, "
    "CAST(coalesce(list_sum(list_transform(toks, "
    "x -> ('0x'||substr(md5(x),1,15))::BIGINT % 1001 - 500)), 0) AS BIGINT) "
    "AS wsum FROM t), "
    "q AS (SELECT doc_id, n_tokens, wsum, "
    "round(1.0/(1.0 + exp(-(CASE WHEN n_tokens > 0 "
    "THEN wsum/(250.0*n_tokens) ELSE 0.0 END))), 6) AS quality_score FROM s) "
    "SELECT doc_id, n_tokens, wsum, quality_score, "
    "quality_score >= 0.55 AS keep FROM q",
    doc="Hashed linear classifier inference (the fasttext-style learned "
    "quality gate of public LLM-corpus curation) via operators/text.py "
    "classifier_score: per-token weight lookup + mean + sigmoid fused "
    "into ONE codegen projection — an aggregate-HOF fold over the "
    "token array, zero shuffles, zero Python. Weights derive from the "
    "cross-engine hex64 hash so the oracle reproduces them; a trained "
    "model swaps in a broadcast weight map in the same fold. The "
    "integer weight-sum accumulates exactly (order-independent), the "
    "only FP is the final logit/sigmoid on bit-identical inputs, "
    "rounded to 6.",
)
def txt_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return txt.classifier_score(docs).select(
        "doc_id", "n_tokens", "wsum", "quality_score", "keep"
    )


@query(
    "txt_quality_classifier_weighted",
    "WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks "
    "FROM documents), "
    "tok AS (SELECT doc_id, unnest(toks) AS tok FROM t), "
    "v AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok "
    "ORDER BY c DESC, tok LIMIT 1000), "
    "vw AS (SELECT tok, ('0x'||substr(md5(tok),1,15))::BIGINT % 1001 - 500 "
    "AS w FROM v), "
    "ws AS (SELECT tok.doc_id, sum(coalesce(vw.w, 0)) AS wsum FROM tok "
    "LEFT JOIN vw USING (tok) GROUP BY tok.doc_id), "
    "s AS (SELECT t.doc_id, CAST(len(t.toks) AS INTEGER) AS n_tokens, "
    "CAST(CASE WHEN t.toks IS NULL THEN NULL ELSE coalesce(ws.wsum, 0) END "
    "AS BIGINT) AS wsum FROM t LEFT JOIN ws USING (doc_id)), "
    "q AS (SELECT doc_id, n_tokens, wsum, "
    "round(1.0/(1.0 + exp(-(CASE WHEN n_tokens > 0 "
    "THEN wsum/(250.0*n_tokens) ELSE 0.0 END))), 6) AS quality_score FROM s) "
    "SELECT doc_id, n_tokens, wsum, quality_score, "
    "quality_score >= 0.55 AS keep FROM q",
    doc="The DEPLOYED classifier shape (operators/text.py "
    "classifier_score(weights=...)): a trained weight table — here the "
    "top-1000-frequency vocabulary with hex64-derived weights so the "
    "oracle reproduces it; unseen tokens weigh 0 — evaluated as an "
    "Arrow pandas UDF holding the vocab dict in the task closure. "
    "Measured 3.3x faster than the codegen fold and 20x faster than "
    "explode + broadcast-join + re-agg (SCALE_NOTES r10): zero "
    "shuffles on the scoring pass, C-speed dict lookups; the only "
    "shuffle anywhere is building the vocabulary itself (one token "
    "groupBy, done once per model, not per scored corpus). Integer "
    "milliweights keep wsum BIGINT-exact; the oracle pays the 20x "
    "explode-join form because SQL has no closure — the match pins "
    "semantics, not plan.",
)
def txt_quality_classifier_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = (
        docs.select(F.explode(txt.tokens_of("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(1000)
        .select(
            "tok", (txt.hex64(F.col("tok")) % 1001 - 500).cast("long").alias("w")
        )
    )
    return txt.classifier_score(docs, weights=vocab).select(
        "doc_id", "n_tokens", "wsum", "quality_score", "keep"
    )


@query(
    "rel_interval_overlap_join",
    headline=True,  # joined r11 (series break #4)
    oracle="WITH camp AS (SELECT event_id AS campaign_id, ts AS start_ts, "
    "ts + INTERVAL 12 HOUR AS end_ts FROM events WHERE event_type = 'purchase' "
    "ORDER BY value DESC, event_id LIMIT 20), "
    "g AS (SELECT user_id, event_id, ts, CASE WHEN ts - lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE "
    "THEN 1 ELSE 0 END AS ns FROM events), "
    "s AS (SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g), "
    "iv AS (SELECT user_id, sid, min(ts) AS start_ts, max(ts) AS end_ts "
    "FROM s GROUP BY 1, 2) "
    "SELECT c.campaign_id, count(*)::BIGINT AS n_sessions, "
    "count(DISTINCT v.user_id)::BIGINT AS n_users, "
    "CAST(sum(least(epoch_us(v.end_ts), epoch_us(c.end_ts)) - "
    "greatest(epoch_us(v.start_ts), epoch_us(c.start_ts))) AS BIGINT) "
    "AS total_overlap_us "
    "FROM camp c JOIN iv v ON v.start_ts <= c.end_ts AND c.start_ts <= v.end_ts "
    "GROUP BY c.campaign_id",
    doc="Interval x interval OVERLAP join (user sessions vs the top-20 "
    "purchase-anchored 12-hour campaign windows) via "
    "operators/relational.py interval_overlap_join: the companion to "
    "rel_range_join_binned's point-in-interval rewrite for the case "
    "where BOTH sides are intervals. Each side maps to the hour bins "
    "it spans, overlap requires a shared bin, so the join is a pure "
    "equi-join on the bin key; a pair sharing k bins is emitted only "
    "from greatest(first-bin-l, first-bin-r) — the dedup-free binned "
    "range-join trick. Intersection lengths are exact epoch-micros "
    "BIGINTs. strategy='auto': at THIS sf the 20-campaign side is "
    "broadcast-sized so the nested-loop theta join runs; at large "
    "interval cardinality both sides bin and shuffle on the dense "
    "bounded bin key — the 100 TB plan. The oracle is DuckDB's native "
    "IEJoin on the raw inequalities.",
)
def rel_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    camp = (
        ev.filter(F.col("event_type") == "purchase")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(20)
        .select(
            F.col("event_id").alias("campaign_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("end_ts"),
        )
    )
    sess_iv = (
        rel.sessionize(ev, key="user_id", ts_col="ts", gap="30 minutes")
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
        .select("user_id", "start_ts", "end_ts")
    )
    pairs = rel.interval_overlap_join(
        sess_iv, camp, start="start_ts", end="end_ts", strategy="auto"
    )
    return pairs.groupBy(F.col("r_campaign_id").alias("campaign_id")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("l_user_id").alias("n_users"),
        F.sum("overlap_us").cast("long").alias("total_overlap_us"),
    )


@query(
    "dq_outlier_iqr",
    "WITH v AS (SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) "
    "AS v FROM events WHERE value IS NOT NULL), "
    "c AS (SELECT g, v, count(*) AS c FROM v GROUP BY 1, 2), "
    "w AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v "
    "ROWS UNBOUNDED PRECEDING) AS cum, sum(c) OVER (PARTITION BY g) AS n "
    "FROM c), "
    "q AS (SELECT g, max(n) AS n, "
    "min(CASE WHEN 4*cum >= n THEN v END) AS q1, "
    "min(CASE WHEN 4*cum >= 3*n THEN v END) AS q3 FROM w GROUP BY g), "
    "o AS (SELECT c.g, sum(c.c) AS n_outliers FROM c JOIN q ON c.g = q.g "
    "WHERE 2*c.v < 5*q.q1 - 3*q.q3 OR 2*c.v > 5*q.q3 - 3*q.q1 GROUP BY c.g) "
    "SELECT q.g AS event_type, q.n::BIGINT AS n, q.q1::BIGINT AS q1, "
    "q.q3::BIGINT AS q3, coalesce(o.n_outliers, 0)::BIGINT AS n_outliers "
    "FROM q LEFT JOIN o ON q.g = o.g",
    doc="Exact distributed IQR (Tukey boxplot fence) outlier screen per "
    "event type via operators/quality.py iqr_outliers: exact lower "
    "discrete quartiles by the weighted_median rank rule at the "
    "quarter points (integer cents, integer comparisons), fences "
    "compared as 2v < 5*q1 - 3*q3 without ever materializing the 1.5x "
    "half-step — no FP anywhere, bit-identical under any partitioning "
    "(the property approx_percentile screens cannot give). The window "
    "pass runs over DISTINCT (group, value) counts, never raw rows; "
    "fences broadcast back. Complements evt_robust_anomaly_mad's MAD "
    "screen with the boxplot-standard fence.",
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import iqr_outliers

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    ).filter(F.col("cents").isNotNull())
    return iqr_outliers(ev, "event_type", "cents")


@query(
    "dq_freshness",
    "WITH g AS (SELECT event_type, count(*)::BIGINT AS n_events, "
    "max(ts) AS latest_ts FROM events GROUP BY event_type), "
    "m AS (SELECT max(latest_ts) AS global_latest FROM g) "
    "SELECT g.event_type, g.n_events, g.latest_ts, "
    "((epoch_us(m.global_latest) - epoch_us(g.latest_ts)) // 60000000)"
    "::BIGINT AS staleness_min FROM g CROSS JOIN m",
    doc="Per-source freshness audit (the dbt source-freshness check, "
    "distributed): one aggregate computes each event type's latest "
    "arrival, the global high-water mark broadcasts back, and the "
    "staleness is exact integer minutes in epoch-micros space. The "
    "feed whose staleness_min grows while siblings stay near zero is "
    "the stalled extractor — the monitoring twin of the control "
    "plane's watermark table.",
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("latest_ts"),
    )
    m = g.agg(F.max("latest_ts").alias("global_latest"))
    return g.crossJoin(F.broadcast(m)).select(
        "event_type",
        "n_events",
        "latest_ts",
        (
            (F.unix_micros("global_latest") - F.unix_micros("latest_ts"))
            / F.lit(60_000_000)
        )
        .cast("long")
        .alias("staleness_min"),
    )


@query(
    "dq_temporal_consistency",
    "WITH j AS (SELECT l.l_shipdate, o.o_orderdate FROM lineitem l "
    "JOIN orders o ON l.l_orderkey = o.o_orderkey) "
    "SELECT * FROM ("
    "SELECT 'ship_before_order' AS rule, count(*)::BIGINT AS n_rows, "
    "count(*) FILTER (NOT (l_shipdate >= o_orderdate) "
    "OR l_shipdate IS NULL OR o_orderdate IS NULL)::BIGINT AS n_violations "
    "FROM j "
    "UNION ALL SELECT 'ship_within_180d', count(*)::BIGINT, "
    "count(*) FILTER (NOT (l_shipdate <= o_orderdate + INTERVAL 180 DAY) "
    "OR l_shipdate IS NULL OR o_orderdate IS NULL)::BIGINT FROM j)",
    doc="CROSS-TABLE temporal-consistency audit: lineitems joined to "
    "their orders, then the constraint family (never shipped before "
    "ordered; shipped within the 180-day SLA) evaluates in ONE "
    "conditional aggregate over the joined stream "
    "(operators/quality.py expectations_report — N rules, one pass, "
    "long-form audit rows). dq_referential_integrity checks the KEYS "
    "line up; this checks the TIMELINE does — the two defects a "
    "landing-zone merge can introduce independently. Null timestamps "
    "coerce to violation per three-valued logic.",
)
def dq_temporal_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import expectations_report

    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = l.join(o, l["l_orderkey"] == o["o_orderkey"])
    rules = {
        "ship_before_order": F.col("l_shipdate") >= F.col("o_orderdate"),
        "ship_within_180d": F.col("l_shipdate")
        <= F.col("o_orderdate") + F.expr("INTERVAL 180 DAYS"),
    }
    return expectations_report(j, rules)


@query(
    "mm_jpeg_color_features",
    # with_jpeg_color_content: 4:2:0 color JPEG, gray constant 8x8 luma
    # blocks of value ((doc_id + 17*b)*53) % 256 — bit-exact through the
    # full color pipeline (see the adapter docstring), so the channel
    # means are arithmetic on doc_id and identical across r/g/b.
    "WITH d AS (SELECT doc_id, (doc_id % 2 + 1) * 16 AS w, 16 AS h "
    "FROM documents), "
    "g AS (SELECT range AS b FROM range(0, 8)) "
    "SELECT doc_id, w AS width, h AS height, "
    "round(sum(((doc_id + 17 * b) * 53) % 256) * 64 / (w * h), 6) AS mean_r, "
    "round(sum(((doc_id + 17 * b) * 53) % 256) * 64 / (w * h), 6) AS mean_g, "
    "round(sum(((doc_id + 17 * b) * 53) % 256) * 64 / (w * h), 6) AS mean_b "
    "FROM d JOIN g ON g.b < (w // 8) * (h // 8) GROUP BY doc_id, w, h",
    doc="REAL 4:2:0 COLOR JPEG decode + features — the form real-world "
    "JPEGs actually take: interleaved YCbCr MCUs (per-MCU component "
    "blocks in SOF order, per-component DC predictors), chroma "
    "subsampled 2x2 by the encoder's box filter and replicated back by "
    "the decoder, JFIF color transforms both ways — all hand-rolled on "
    "numpy/struct (operators/multimodal.py encode_jpeg_color / "
    "_decode_jpeg). The test corpus is gray constant-block content, "
    "which is BIT-EXACT through the whole color pipeline (gray pins "
    "Cb=Cr=128 through subsampling; constant blocks are DC-only; "
    "round(v*(.299+.587+.114))==v for all v — verified), so the means "
    "stay oracle-arithmetic; lossy color behavior is covered by "
    "bounded-error tests in test_round10_ops.",
)
def mm_jpeg_color_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return mm.image_features(mm.with_jpeg_color_content(docs))


@query(
    "mm_jpeg_progressive_features",
    # with_jpeg_progressive_content: progressive (SOF2) 4:2:0 color JPEG,
    # gray constant 8x8 luma blocks of value ((doc_id + 19*b)*59) % 256 —
    # bit-exact through the progressive entropy layer + color pipeline.
    "WITH d AS (SELECT doc_id, (doc_id % 3 + 1) * 16 AS w, 16 AS h "
    "FROM documents), "
    "g AS (SELECT range AS b FROM range(0, 12)) "
    "SELECT doc_id, w AS width, h AS height, "
    "round(sum(((doc_id + 19 * b) * 59) % 256) * 64 / (w * h), 6) AS mean_r, "
    "round(sum(((doc_id + 19 * b) * 59) % 256) * 64 / (w * h), 6) AS mean_g, "
    "round(sum(((doc_id + 19 * b) * 59) % 256) * 64 / (w * h), 6) AS mean_b "
    "FROM d JOIN g ON g.b < (w // 8) * (h // 8) GROUP BY doc_id, w, h",
    doc="PROGRESSIVE JPEG (SOF2) decode + features — the multi-scan form "
    "web images actually ship: per-component zigzag coefficient grids "
    "accumulate across DC successive-approximation scans (diffs at "
    "Al=1, raw-bit refinements), spectral-selection AC scans, and "
    "cross-block EOBn end-of-band runs with refinement correction "
    "bits, then dequantize+IDCT exactly like baseline "
    "(operators/multimodal.py _decode_jpeg_progressive; encoder "
    "exercises BOTH progression axes). The gray constant-block corpus "
    "is bit-exact through the whole layer (pinned: progressive decode "
    "== baseline decode of the same coefficients), so the means stay "
    "oracle-arithmetic.",
)
def mm_jpeg_progressive_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return mm.image_features(mm.with_jpeg_progressive_content(docs))


@query(
    "dq_psi_drift",
    headline=True,  # joined r11 (series break #4)
    oracle="WITH v AS (SELECT event_type AS g, value::DOUBLE AS v, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "m AS (SELECT g, max(v) AS mx, min(v) AS mn FROM v GROUP BY g), "
    "c AS (SELECT v.g, CASE WHEN m.mx = m.mn THEN 0 ELSE least(9, greatest(0, CAST(floor((v.v - m.mn) * 10 / (m.mx - m.mn)) AS INT))) END"
    " AS b, sum(CASE WHEN cur THEN 0 ELSE 1 END) AS ref, "
    "sum(CASE WHEN cur THEN 1 ELSE 0 END) AS curn "
    "FROM v JOIN m ON v.g = m.g GROUP BY 1, 2), "
    "grid AS (SELECT g, b FROM (SELECT DISTINCT g FROM v) "
    "CROSS JOIN (SELECT range::INT AS b FROM range(0, 10))), "
    "f AS (SELECT grid.g, grid.b, coalesce(c.ref, 0) AS ref, "
    "coalesce(c.curn, 0) AS curn FROM grid "
    "LEFT JOIN c ON grid.g = c.g AND grid.b = c.b), "
    "t AS (SELECT g, ref, curn, sum(ref) OVER (PARTITION BY g) AS nref, "
    "sum(curn) OVER (PARTITION BY g) AS ncur FROM f) "
    "SELECT g AS event_type, max(nref)::BIGINT AS n_ref, "
    "max(ncur)::BIGINT AS n_cur, "
    "round(sum(((curn + 1.0) / (ncur + 10) - (ref + 1.0) / (nref + 10)) * "
    "ln(((curn + 1.0) / (ncur + 10)) / ((ref + 1.0) / (nref + 10)))), 6) "
    "AS psi FROM t GROUP BY g",
    doc="Population Stability Index drift audit per event type "
    "(operators/quality.py psi_drift — the standard model-monitoring "
    "distribution screen, public method): the first half-month is the "
    "reference population, the rest is current; values bucket into 10 "
    "equal-width bins over each group's own [min,max] range (per-type "
    "edges, matching the operator), PSI = sum (q-p)*ln(q/p) "
    "with add-one smoothing so empty bins stay finite. Catches a feed "
    "whose VALUE DISTRIBUTION shifts while row counts and null rates "
    "stay normal — the drift class dq_daily_volume_anomaly and "
    "dq_null_profile cannot see. Plan: per-type [min,max] bucket edges "
    "broadcast back, one (type, bucket) conditional aggregate, a broadcast "
    "bucket-grid left join, per-type reduce — bounded by types x 10 "
    "after the first aggregate.",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import psi_drift

    ev = _t(spark, sf_dir, "events").withColumn(
        "is_cur",
        F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"),
    )
    return psi_drift(ev, "event_type", "value", "is_cur")


@query(
    "dq_ks_drift",
    "WITH v AS (SELECT event_type AS g, value AS v, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "c AS (SELECT g, v, sum(CASE WHEN cur THEN 0 ELSE 1 END) AS r, "
    "sum(CASE WHEN cur THEN 1 ELSE 0 END) AS cc FROM v GROUP BY 1, 2), "
    "s AS (SELECT g, sum(r) OVER (PARTITION BY g ORDER BY v "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(cc) OVER (PARTITION BY g "
    "ORDER BY v ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g) AS nr, "
    "sum(cc) OVER (PARTITION BY g) AS nc FROM c) "
    "SELECT g AS event_type, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "max(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) END)::BIGINT "
    "AS ks_x1e6 FROM s GROUP BY g",
    doc="Two-sample Kolmogorov-Smirnov drift statistic per event type "
    "(operators/quality.py ks_drift): max absolute ECDF gap between the "
    "first half-month (reference) and the rest, each ECDF in exact "
    "integer millionths (staged div — bit-identical cross-engine, no "
    "FP max). The binning-free companion to dq_psi_drift: reacts to "
    "any location/spread/shape change without choosing bucket edges. "
    "Same two-exchange distinct-values plan shape as dq_outlier_iqr.",
)
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import ks_drift

    ev = _t(spark, sf_dir, "events").withColumn(
        "is_cur",
        F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"),
    )
    return ks_drift(ev, "event_type", "value", "is_cur")


@query(
    "dq_chi2_drift",
    "WITH v AS (SELECT coalesce(o_orderpriority, '__null__') AS c, "
    "o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AS cur FROM orders), "
    "k AS (SELECT c, sum(CASE WHEN cur THEN 0 ELSE 1 END) AS r, "
    "sum(CASE WHEN cur THEN 1 ELSE 0 END) AS q FROM v GROUP BY c), "
    "t AS (SELECT c, r, q, sum(r) OVER () AS tr, sum(q) OVER () AS tq, "
    "r + q AS n, sum(r) OVER () + sum(q) OVER () AS tn FROM k) "
    "SELECT max(tr)::BIGINT AS n_ref, max(tq)::BIGINT AS n_cur, "
    "count(*)::BIGINT AS n_categories, (count(*) - 1)::BIGINT AS dof, "
    "round(sum(CASE WHEN tr > 0 AND tq > 0 THEN "
    "(r - tr*n/tn) * (r - tr*n/tn) / (tr*n/tn) + "
    "(q - tq*n/tn) * (q - tq*n/tn) / (tq*n/tn) END), 6) AS chi2 FROM t",
    doc="Two-sample chi-square homogeneity drift over a CATEGORICAL "
    "column (operators/quality.py chi2_drift — the third leg of the "
    "drift family: psi=binned continuous, ks=binning-free continuous, "
    "chi2=categorical): order-priority mix before vs after 1998, "
    "expected counts from the pooled proportions, NULLs counted as "
    "their own category (a feed going null-heavy IS drift). One "
    "category-count aggregate + a window over the aggregated frame "
    "(bounded by |categories|); the only FP is the final (o-e)^2/e on "
    "exact integer counts, rounded 6.",
)
def dq_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import chi2_drift

    o = _t(spark, sf_dir, "orders").withColumn(
        "is_cur",
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"),
    )
    return chi2_drift(o, "o_orderpriority", "is_cur")


@query(
    "dq_psi_drift_incremental",
    "WITH v AS (SELECT event_type AS g, value::DOUBLE AS v, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "m AS (SELECT g, max(v) AS mx, min(v) AS mn FROM v WHERE NOT cur "
    "GROUP BY g), "
    "c AS (SELECT v.g, CASE WHEN m.mx = m.mn THEN 0 ELSE least(9, greatest(0, CAST(floor((v.v - m.mn) * 10 / (m.mx - m.mn)) AS INT))) END"
    " AS b, sum(CASE WHEN cur THEN 0 ELSE 1 END) AS ref, "
    "sum(CASE WHEN cur THEN 1 ELSE 0 END) AS curn "
    "FROM v JOIN m ON v.g = m.g GROUP BY 1, 2), "
    "grid AS (SELECT g, b FROM (SELECT g FROM m) "
    "CROSS JOIN (SELECT range::INT AS b FROM range(0, 10))), "
    "f AS (SELECT grid.g, grid.b, coalesce(c.ref, 0) AS ref, "
    "coalesce(c.curn, 0) AS curn FROM grid "
    "LEFT JOIN c ON grid.g = c.g AND grid.b = c.b), "
    "t AS (SELECT g, ref, curn, sum(ref) OVER (PARTITION BY g) AS nref, "
    "sum(curn) OVER (PARTITION BY g) AS ncur FROM f) "
    "SELECT g AS event_type, max(nref)::BIGINT AS n_ref, "
    "max(ncur)::BIGINT AS n_cur, "
    "round(sum(((curn + 1.0) / (ncur + 10) - (ref + 1.0) / (nref + 10)) * "
    "ln(((curn + 1.0) / (ncur + 10)) / ((ref + 1.0) / (nref + 10)))), 6) "
    "AS psi FROM t GROUP BY g",
    doc="Incremental PSI drift (operators/quality.py psi_reference_write "
    "/ psi_drift_probe — verdict r10 task 2): the reference "
    "population's histogram (grid-complete per-(type, bucket) counts + "
    "frozen per-type [min,max] edges, |types| x 10 rows) is PERSISTED "
    "once — the same persisted-index pattern as dd_neardup_incremental "
    "and the sim_* frozen geometry — and each audit buckets ONLY the "
    "current batch against it: one pass over the batch plus a "
    "broadcast-sized store read, instead of rescanning the reference "
    "population every run (at 100 TB the reference side dominates the "
    "batch audit). Frozen geometry: current values beyond the "
    "reference range clamp into the edge bins — out-of-range mass IS "
    "edge-bin drift. The oracle derives the same reference-only edges "
    "inline; here the reference attains each type's combined range, "
    "so the result also equals the batch dq_psi_drift bit-for-bit "
    "(pinned in test_round11_ops).",
)
def dq_psi_drift_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        psi_drift_probe,
        psi_reference_write,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "psiref",
        sf_dir,
        lambda p: psi_reference_write(
            ev.filter(F.col("ts") < cut), "event_type", "value", p
        ),
    )
    return psi_drift_probe(
        ev.filter(F.col("ts") >= cut), "event_type", "value", path
    )


@query(
    "dq_psi_drift_daily",
    "WITH v AS (SELECT event_type AS g, value::DOUBLE AS v, ts, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "m AS (SELECT g, max(v) AS mx, min(v) AS mn FROM v WHERE NOT cur "
    "GROUP BY g), "
    "rc AS (SELECT v.g, CASE WHEN m.mx = m.mn THEN 0 ELSE least(9, greatest(0, CAST(floor((v.v - m.mn) * 10 / (m.mx - m.mn)) AS INT))) END"
    " AS b, count(*) AS refn FROM v JOIN m ON v.g = m.g WHERE NOT cur "
    "GROUP BY 1, 2), "
    "cc AS (SELECT v.g, CAST(v.ts AS DATE) AS day, "
    "CASE WHEN m.mx = m.mn THEN 0 ELSE least(9, greatest(0, CAST(floor((v.v - m.mn) * 10 / (m.mx - m.mn)) AS INT))) END"
    " AS b, count(*) AS curn FROM v JOIN m ON v.g = m.g WHERE cur "
    "GROUP BY 1, 2, 3), "
    "days AS (SELECT DISTINCT g, day FROM cc), "
    "grid AS (SELECT d.g, d.day, r.b FROM days d "
    "CROSS JOIN (SELECT range::INT AS b FROM range(0, 10)) r), "
    "f AS (SELECT grid.g, grid.day, grid.b, coalesce(rc.refn, 0) AS ref, "
    "coalesce(cc.curn, 0) AS curn FROM grid "
    "LEFT JOIN rc ON grid.g = rc.g AND grid.b = rc.b "
    "LEFT JOIN cc ON grid.g = cc.g AND grid.day = cc.day "
    "AND grid.b = cc.b), "
    "t AS (SELECT g, day, ref, curn, "
    "sum(ref) OVER (PARTITION BY g, day) AS nref, "
    "sum(curn) OVER (PARTITION BY g, day) AS ncur FROM f) "
    "SELECT g AS event_type, day, max(nref)::BIGINT AS n_ref, "
    "max(ncur)::BIGINT AS n_cur, "
    "round(sum(((curn + 1.0) / (ncur + 10) - (ref + 1.0) / (nref + 10)) * "
    "ln(((curn + 1.0) / (ncur + 10)) / ((ref + 1.0) / (nref + 10)))), 6) "
    "AS psi FROM t GROUP BY g, day",
    doc="PSI drift TIME SERIES (operators/quality.py psi_drift_windows): "
    "the persisted-reference probe evaluated per (event type, DAY) — "
    "one PSI row per group per day, the dashboard shape of production "
    "model monitoring (the single-number audit says 'drifted'; the "
    "series says WHEN and whether it trends or spikes). One pass "
    "buckets the current rows against the frozen reference edges and "
    "counts per (group, day, bucket); the reference grid broadcast-"
    "joins onto the distinct (group, day) pairs, so everything after "
    "the first aggregate is bounded by groups x days x 10. Same "
    "smoothing/bucket arithmetic as dq_psi_drift_incremental (shared "
    "_psi_from_filled tail, now key-generalized).",
)
def dq_psi_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        psi_drift_windows,
        psi_reference_write,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "psiref",
        sf_dir,
        lambda p: psi_reference_write(
            ev.filter(F.col("ts") < cut), "event_type", "value", p
        ),
    )
    cur = ev.filter(F.col("ts") >= cut).withColumn("day", F.to_date("ts"))
    return psi_drift_windows(cur, "event_type", "value", "day", path)


@query(
    "dq_ks_drift_incremental",
    "WITH v AS (SELECT event_type AS g, value AS v, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "c AS (SELECT g, v, sum(CASE WHEN cur THEN 0 ELSE 1 END) AS r, "
    "sum(CASE WHEN cur THEN 1 ELSE 0 END) AS cc FROM v "
    "WHERE g IN (SELECT g FROM v WHERE NOT cur) GROUP BY 1, 2), "
    "s AS (SELECT g, sum(r) OVER (PARTITION BY g ORDER BY v "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(cc) OVER (PARTITION BY g "
    "ORDER BY v ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g) AS nr, "
    "sum(cc) OVER (PARTITION BY g) AS nc FROM c) "
    "SELECT g AS event_type, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "max(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) END)::BIGINT "
    "AS ks_x1e6 FROM s GROUP BY g",
    doc="Incremental KS drift (operators/quality.py ks_reference_write / "
    "ks_drift_probe): the reference's per-(type, value) counts — the "
    "MINIMAL SUFFICIENT STATISTIC of a two-sample KS — persist once; "
    "each audit aggregates only the current batch, merges counts "
    "(union + re-aggregate, no raw reference rows), and runs the "
    "shared integer-ECDF tail. Geometry-free, so the probe is "
    "bit-identical to the batch dq_ks_drift on reference types by "
    "construction (pinned in test_round11_ops); types never seen in "
    "the reference are not audited (undefined KS). Probe cost: one "
    "batch aggregate + one window over merged DISTINCT values.",
)
def dq_ks_drift_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        ks_drift_probe,
        ks_reference_write,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "ksref",
        sf_dir,
        lambda p: ks_reference_write(
            ev.filter(F.col("ts") < cut), "event_type", "value", p
        ),
    )
    return ks_drift_probe(
        ev.filter(F.col("ts") >= cut), "event_type", "value", path
    )


@query(
    "dq_ks_drift_quantized",
    "WITH v AS (SELECT event_type AS g, value AS v, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "e AS (SELECT g, min(v) AS mn, max(v) AS mx FROM v WHERE NOT cur "
    "GROUP BY 1), "
    "b AS (SELECT v.g, CASE WHEN e.mx = e.mn THEN 0 ELSE "
    "LEAST(1023, GREATEST(0, "
    "CAST(FLOOR((v.v - e.mn) * 1024 / (e.mx - e.mn)) AS INT))) END AS b, "
    "v.cur FROM v JOIN e ON v.g = e.g), "
    "c AS (SELECT g, b, sum(CASE WHEN cur THEN 0 ELSE 1 END) AS r, "
    "sum(CASE WHEN cur THEN 1 ELSE 0 END) AS cc FROM b GROUP BY 1, 2), "
    "s AS (SELECT g, sum(r) OVER (PARTITION BY g ORDER BY b "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(cc) OVER (PARTITION BY g "
    "ORDER BY b ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g) AS nr, "
    "sum(cc) OVER (PARTITION BY g) AS nc FROM c) "
    "SELECT g AS event_type, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "max(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) END)::BIGINT "
    "AS ks_x1e6 FROM s GROUP BY g",
    doc="Quantized incremental KS drift (operators/quality.py "
    "ks_reference_write_quantized / ks_drift_probe_quantized, VERDICT "
    "r11 #2): the exact KS store is per-(group, value) counts — ~66% "
    "of the reference itself on a near-continuous double like "
    "events.value (198 distinct / 199 rows per type at sf0.001). This "
    "variant persists per-(group, bin) counts on a frozen 1024-bin "
    "equal-width grid (psi_reference_write's frozen-edge contract, "
    "shared _psi_bucket expression), making the store O(groups x "
    "bins) however large the reference. Epsilon-KS, one-sided: "
    "KS_q <= KS_exact <= KS_q + max-bin-mass (~1000 ks_x1e6 units at "
    "1024 bins on smooth data); bit-exact on integer metrics with "
    "range < n_bins (pinned in test_round12_ops).",
)
def dq_ks_drift_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        ks_drift_probe_quantized,
        ks_reference_write_quantized,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "ksrefq",
        sf_dir,
        lambda p: ks_reference_write_quantized(
            ev.filter(F.col("ts") < cut), "event_type", "value", p
        ),
    )
    return ks_drift_probe_quantized(
        ev.filter(F.col("ts") >= cut), "event_type", "value", path
    )


@query(
    "dq_ks_drift_daily_quantized",
    "WITH v AS (SELECT event_type AS g, value AS v, ts, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "e AS (SELECT g, min(v) AS mn, max(v) AS mx FROM v WHERE NOT cur "
    "GROUP BY 1), "
    "b AS (SELECT v.g, CASE WHEN e.mx = e.mn THEN 0 ELSE "
    "LEAST(1023, GREATEST(0, "
    "CAST(FLOOR((v.v - e.mn) * 1024 / (e.mx - e.mn)) AS INT))) END AS b, "
    "v.cur, CAST(v.ts AS DATE) AS day FROM v JOIN e ON v.g = e.g), "
    "rc AS (SELECT g, b, count(*)::BIGINT AS r FROM b WHERE NOT cur "
    "GROUP BY 1, 2), "
    "days AS (SELECT DISTINCT g, day FROM b WHERE cur), "
    "cc AS (SELECT g, day, b, count(*)::BIGINT AS c FROM b WHERE cur "
    "GROUP BY 1, 2, 3), "
    "u AS (SELECT d.g, d.day, rc.b, rc.r, 0::BIGINT AS c FROM days d "
    "JOIN rc ON d.g = rc.g "
    "UNION ALL SELECT g, day, b, 0::BIGINT, c FROM cc), "
    "m AS (SELECT g, day, b, sum(r) AS r, sum(c) AS c FROM u "
    "GROUP BY 1, 2, 3), "
    "s AS (SELECT g, day, sum(r) OVER (PARTITION BY g, day ORDER BY b "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(c) OVER (PARTITION BY g, day "
    "ORDER BY b ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g, day) AS nr, "
    "sum(c) OVER (PARTITION BY g, day) AS nc FROM m) "
    "SELECT g AS event_type, day, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "max(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) END)::BIGINT "
    "AS ks_x1e6 FROM s GROUP BY g, day",
    doc="Quantized KS drift TIME SERIES (operators/quality.py "
    "ks_drift_windows_quantized): the windowed audit was where the "
    "exact store hurt most — dq_ks_drift_daily replicates per-(group, "
    "value) reference counts onto EVERY audited window, ~|reference| x "
    "|windows| merge rows on a continuous metric. Here the replicated "
    "rows are the frozen 1024-bin grid (|groups| x bins x |windows|, "
    "bounded forever) and each day's batch quantizes onto the same "
    "grid. Per window bit-identical to dq_ks_drift_quantized on that "
    "window's rows alone (pinned in test_round12_ops); one-sided "
    "epsilon-KS bound vs the exact daily series.",
)
def dq_ks_drift_daily_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        ks_drift_windows_quantized,
        ks_reference_write_quantized,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "ksrefq",
        sf_dir,
        lambda p: ks_reference_write_quantized(
            ev.filter(F.col("ts") < cut), "event_type", "value", p
        ),
    )
    cur = ev.filter(F.col("ts") >= cut).withColumn("day", F.to_date("ts"))
    return ks_drift_windows_quantized(cur, "event_type", "value", "day", path)


@query(
    "dq_w1_drift_daily_quantized",
    "WITH v AS (SELECT event_type AS g, value AS v, ts, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "e AS (SELECT g, min(v) AS mn, max(v) AS mx FROM v WHERE NOT cur "
    "GROUP BY 1), "
    "b AS (SELECT v.g, CASE WHEN e.mx = e.mn THEN 0 ELSE "
    "LEAST(1023, GREATEST(0, "
    "CAST(FLOOR((v.v - e.mn) * 1024 / (e.mx - e.mn)) AS INT))) END AS b, "
    "v.cur, CAST(v.ts AS DATE) AS day FROM v JOIN e ON v.g = e.g), "
    "rc AS (SELECT g, b, count(*)::BIGINT AS r FROM b WHERE NOT cur "
    "GROUP BY 1, 2), "
    "days AS (SELECT DISTINCT g, day FROM b WHERE cur), "
    "cc AS (SELECT g, day, b, count(*)::BIGINT AS c FROM b WHERE cur "
    "GROUP BY 1, 2, 3), "
    "u AS (SELECT d.g, d.day, rc.b, rc.r, 0::BIGINT AS c FROM days d "
    "JOIN rc ON d.g = rc.g "
    "UNION ALL SELECT g, day, b, 0::BIGINT, c FROM cc), "
    "m AS (SELECT g, day, b, sum(r) AS r, sum(c) AS c FROM u "
    "GROUP BY 1, 2, 3), "
    "s AS (SELECT g, day, sum(r) OVER (PARTITION BY g, day ORDER BY b "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(c) OVER (PARTITION BY g, day "
    "ORDER BY b ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g, day) AS nr, "
    "sum(c) OVER (PARTITION BY g, day) AS nc, "
    "coalesce(lead(b) OVER (PARTITION BY g, day ORDER BY b) - b, 0) "
    "AS span FROM m), "
    "t AS (SELECT g, day, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "sum(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) * span END) AS s "
    "FROM s GROUP BY g, day) "
    "SELECT t.g AS event_type, t.day, n_ref, n_cur, "
    "round(s * (e.mx - e.mn) / 1024 / 1000000, 6) AS w1 "
    "FROM t JOIN e ON t.g = e.g",
    doc="Wasserstein-1 drift TIME SERIES on the shared quantized store "
    "(operators/quality.py w1_drift_windows_quantized): the L1 "
    "companion to dq_ks_drift_daily_quantized — per (group, day), how "
    "FAR apart (in the metric's own units) the day's distribution sits "
    "from the frozen reference, where the KS series says how sharply "
    "the ECDFs separate. Same grid-bounded replication (|groups| x "
    "bins x |windows|), same shared scaled-integer tail; per window "
    "bit-identical to dq_w1_drift_quantized on that window's rows "
    "alone (pinned in test_round12_ops).",
)
def dq_w1_drift_daily_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        ks_reference_write_quantized,
        w1_drift_windows_quantized,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "ksrefq",
        sf_dir,
        lambda p: ks_reference_write_quantized(
            ev.filter(F.col("ts") < cut), "event_type", "value", p
        ),
    )
    cur = ev.filter(F.col("ts") >= cut).withColumn("day", F.to_date("ts"))
    return w1_drift_windows_quantized(cur, "event_type", "value", "day", path)


@query(
    "dq_w1_drift_quantized",
    "WITH v AS (SELECT event_type AS g, value AS v, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "e AS (SELECT g, min(v) AS mn, max(v) AS mx FROM v WHERE NOT cur "
    "GROUP BY 1), "
    "b AS (SELECT v.g, CASE WHEN e.mx = e.mn THEN 0 ELSE "
    "LEAST(1023, GREATEST(0, "
    "CAST(FLOOR((v.v - e.mn) * 1024 / (e.mx - e.mn)) AS INT))) END AS b, "
    "v.cur FROM v JOIN e ON v.g = e.g), "
    "c AS (SELECT g, b, sum(CASE WHEN cur THEN 0 ELSE 1 END) AS r, "
    "sum(CASE WHEN cur THEN 1 ELSE 0 END) AS cc FROM b GROUP BY 1, 2), "
    "s AS (SELECT g, sum(r) OVER (PARTITION BY g ORDER BY b "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(cc) OVER (PARTITION BY g "
    "ORDER BY b ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g) AS nr, "
    "sum(cc) OVER (PARTITION BY g) AS nc, "
    "coalesce(lead(b) OVER (PARTITION BY g ORDER BY b) - b, 0) AS span "
    "FROM c), "
    "t AS (SELECT g, max(nr)::BIGINT AS n_ref, max(nc)::BIGINT AS n_cur, "
    "sum(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) * span END) AS s "
    "FROM s GROUP BY g) "
    "SELECT t.g AS event_type, n_ref, n_cur, "
    "round(s * (e.mx - e.mn) / 1024 / 1000000, 6) AS w1 "
    "FROM t JOIN e ON t.g = e.g",
    doc="Wasserstein-1 (earth-mover) drift against the SAME persisted "
    "quantized store as dq_ks_drift_quantized (operators/quality.py "
    "w1_drift_probe_quantized): KS is the sup-norm of the ECDF gap — "
    "one spike decides it — while W1 is its L1 integral, magnitude-"
    "aware and in the metric's own units ('the distributions sit ~4 "
    "units apart'), the complementary norm a drift dashboard wants. "
    "Gap is piecewise constant between observed bins, so each merged "
    "count row contributes gap x (next_bin - bin) grid steps (zero "
    "bins never materialize); gap sums are the family's shared scaled-"
    "integer ECDF arithmetic, the only FP is one final width multiply. "
    "Quantization transports mass at most one bin width — the same "
    "epsilon bound as the quantized KS, pinned in test_round12_ops.",
)
def dq_w1_drift_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        ks_reference_write_quantized,
        w1_drift_probe_quantized,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "ksrefq",
        sf_dir,
        lambda p: ks_reference_write_quantized(
            ev.filter(F.col("ts") < cut), "event_type", "value", p
        ),
    )
    return w1_drift_probe_quantized(
        ev.filter(F.col("ts") >= cut), "event_type", "value", path
    )


_EQ_EDGES_SQL = (
    # frozen EQUI-DEPTH geometry: 15 interior edges per group at exact
    # ranks ceil(i*N/16) (order statistics, no interpolation — the
    # engine's exact_quantile_edges rank formula verbatim, so both
    # engines select the same VALUES even under ties)
    "rk AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) "
    "AS rn, count(*) OVER (PARTITION BY g) AS nn FROM v WHERE NOT cur), "
    "e AS (SELECT rk.g, rk.v AS ev FROM rk JOIN "
    "(SELECT unnest(generate_series(1, 15)) AS i) i "
    "ON rk.rn = (i.i * rk.nn + 15) // 16), "
    # per-(group, value) multiplicities first, then bucket = #edges the
    # value has reached (>=) — the engine's _edge_bucket rule
    "vc AS (SELECT g, v, cur, count(*) AS cnt FROM v "
    "WHERE g IN (SELECT g FROM v WHERE NOT cur) GROUP BY 1, 2, 3), "
    "bb AS (SELECT vc.g, vc.v, vc.cur, vc.cnt, count(e.ev) AS b "
    "FROM vc LEFT JOIN e ON e.g = vc.g AND vc.v >= e.ev "
    "GROUP BY vc.g, vc.v, vc.cur, vc.cnt), "
    "c AS (SELECT g, b, sum(CASE WHEN cur THEN 0 ELSE cnt END) AS r, "
    "sum(CASE WHEN cur THEN cnt ELSE 0 END) AS cc FROM bb GROUP BY 1, 2), "
)


@query(
    "dq_ks_drift_equidepth",
    "WITH v AS (SELECT event_type AS g, value AS v, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    + _EQ_EDGES_SQL
    + "s AS (SELECT g, sum(r) OVER (PARTITION BY g ORDER BY b "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(cc) OVER (PARTITION BY g "
    "ORDER BY b ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g) AS nr, "
    "sum(cc) OVER (PARTITION BY g) AS nc FROM c) "
    "SELECT g AS event_type, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "max(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) END)::BIGINT "
    "AS ks_x1e6 FROM s GROUP BY g",
    doc="EQUI-DEPTH quantized KS drift (operators/quality.py "
    "ks_reference_write_quantized(edges='quantile_exact') / "
    "ks_drift_probe_quantized, VERDICT r12 #2): the equal-width grid's "
    "one-sided error bound is max-bin-mass, which degrades exactly on "
    "heavy-tailed metrics — most mass lands in a few bins. Freezing "
    "the edges at the reference's own rank-based quantiles pins every "
    "bin's reference mass at ~1/n_bins BY CONSTRUCTION, making the "
    "bound distribution-free; the probe detects the grid kind from the "
    "store's geometry rows and quantizes the batch through the same "
    "frozen edge array (_edge_bucket, >= ties-up). Edges are exact "
    "order statistics (values at ranks ceil(i*N/n), no interpolation), "
    "so the oracle selects bit-identical edge VALUES — what "
    "percentile_approx (the 100 TB one-aggregate path, edges="
    "'quantile') cannot promise cross-engine; the frozen store makes "
    "the distinction invisible to probes.",
)
def dq_ks_drift_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        ks_drift_probe_quantized,
        ks_reference_write_quantized,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "ksrefeq",
        sf_dir,
        lambda p: ks_reference_write_quantized(
            ev.filter(F.col("ts") < cut), "event_type", "value", p,
            n_bins=16, edges="quantile_exact",
        ),
    )
    return ks_drift_probe_quantized(
        ev.filter(F.col("ts") >= cut), "event_type", "value", path
    )


@query(
    "dq_w1_drift_equidepth",
    "WITH v AS (SELECT event_type AS g, value AS v, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    + _EQ_EDGES_SQL
    + "ei AS (SELECT g, ev, row_number() OVER (PARTITION BY g "
    "ORDER BY ev) AS idx FROM e), "
    "mn AS (SELECT g, min(v) AS mn FROM v WHERE NOT cur GROUP BY 1), "
    "c2 AS (SELECT c.g, c.b, c.r, c.cc, "
    "CASE WHEN c.b = 0 THEN m.mn ELSE ei.ev END AS pos "
    "FROM c JOIN mn m ON c.g = m.g "
    "LEFT JOIN ei ON ei.g = c.g AND ei.idx = c.b), "
    "s AS (SELECT g, sum(r) OVER (PARTITION BY g ORDER BY b "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(cc) OVER (PARTITION BY g "
    "ORDER BY b ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g) AS nr, "
    "sum(cc) OVER (PARTITION BY g) AS nc, "
    "coalesce(lead(pos) OVER (PARTITION BY g ORDER BY b) - pos, 0) "
    "AS span FROM c2) "
    "SELECT g AS event_type, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "round(sum(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) * span END) "
    "/ 1000000, 6) AS w1 FROM s GROUP BY g",
    doc="Wasserstein-1 drift on the SAME equi-depth store as "
    "dq_ks_drift_equidepth (operators/quality.py "
    "w1_drift_probe_quantized, quantile branch): on a non-uniform grid "
    "the piecewise-constant ECDF gap integrates over the frozen edge "
    "SPACINGS — each bin's position is its left edge (bin 0 = the "
    "reference min), spans are edge differences in the metric's own "
    "units, and the equal-width tail's uniform (mx-mn)/n_bins rescale "
    "drops away — so W1 stays magnitude-true on exactly the skewed "
    "metrics the quantile grid exists for. Gap sums remain the "
    "family's shared scaled-integer ECDF arithmetic; per-window "
    "bit-identity with the daily form is pinned in test_round13_ops.",
)
def dq_w1_drift_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        ks_reference_write_quantized,
        w1_drift_probe_quantized,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "ksrefeq",
        sf_dir,
        lambda p: ks_reference_write_quantized(
            ev.filter(F.col("ts") < cut), "event_type", "value", p,
            n_bins=16, edges="quantile_exact",
        ),
    )
    return w1_drift_probe_quantized(
        ev.filter(F.col("ts") >= cut), "event_type", "value", path
    )


_EQ_DAILY_PRELUDE = (
    "WITH v AS (SELECT event_type AS g, value AS v, ts, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "rk AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) "
    "AS rn, count(*) OVER (PARTITION BY g) AS nn FROM v WHERE NOT cur), "
    "e AS (SELECT rk.g, rk.v AS ev FROM rk JOIN "
    "(SELECT unnest(generate_series(1, 15)) AS i) i "
    "ON rk.rn = (i.i * rk.nn + 15) // 16), "
    "vc AS (SELECT g, v, cur, CAST(ts AS DATE) AS day, count(*) AS cnt "
    "FROM v WHERE g IN (SELECT g FROM v WHERE NOT cur) "
    "GROUP BY 1, 2, 3, 4), "
    "bb AS (SELECT vc.g, vc.day, vc.cur, vc.cnt, count(e.ev) AS b "
    "FROM vc LEFT JOIN e ON e.g = vc.g AND vc.v >= e.ev "
    "GROUP BY vc.g, vc.day, vc.cur, vc.cnt, vc.v), "
    "rc AS (SELECT g, b, sum(cnt)::BIGINT AS r FROM bb WHERE NOT cur "
    "GROUP BY 1, 2), "
    "days AS (SELECT DISTINCT g, day FROM bb WHERE cur), "
    "cc AS (SELECT g, day, b, sum(cnt)::BIGINT AS c FROM bb WHERE cur "
    "GROUP BY 1, 2, 3), "
    "u AS (SELECT d.g, d.day, rc.b, rc.r, 0::BIGINT AS c FROM days d "
    "JOIN rc ON d.g = rc.g "
    "UNION ALL SELECT g, day, b, 0::BIGINT, c FROM cc), "
    "m AS (SELECT g, day, b, sum(r) AS r, sum(c) AS c FROM u "
    "GROUP BY 1, 2, 3), "
)


def _eq_daily_store(spark: SparkSession, sf_dir: str) -> str:
    from wms_data_pipeline_spark.operators.quality import (
        ks_reference_write_quantized,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    return _process_cached_index(
        "ksrefeq",
        sf_dir,
        lambda p: ks_reference_write_quantized(
            ev.filter(F.col("ts") < cut), "event_type", "value", p,
            n_bins=16, edges="quantile_exact",
        ),
    )


@query(
    "dq_ks_drift_daily_equidepth",
    _EQ_DAILY_PRELUDE
    + "s AS (SELECT g, day, sum(r) OVER (PARTITION BY g, day ORDER BY b "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(c) OVER (PARTITION BY g, day "
    "ORDER BY b ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g, day) AS nr, "
    "sum(c) OVER (PARTITION BY g, day) AS nc FROM m) "
    "SELECT g AS event_type, day, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "max(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) END)::BIGINT "
    "AS ks_x1e6 FROM s GROUP BY g, day",
    doc="EQUI-DEPTH quantized KS drift TIME SERIES — the windowed form "
    "of dq_ks_drift_equidepth on the SAME frozen rank-quantile store "
    "(operators/quality.py ks_drift_windows_quantized, quantile "
    "branch): replicated merge rows stay |groups| x n_bins x |windows| "
    "— bounded forever — while the grid's one-sided error bound is now "
    "distribution-free (~1/n_bins) instead of max-bin-mass, i.e. the "
    "daily drift dashboard keeps its sensitivity on exactly the "
    "heavy-tailed metrics it monitors. Per window bit-identical to the "
    "single-batch equi-depth probe (pinned in test_round13_ops).",
)
def dq_ks_drift_daily_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        ks_drift_windows_quantized,
    )

    path = _eq_daily_store(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cur = ev.filter(F.col("ts") >= cut).withColumn("day", F.to_date("ts"))
    return ks_drift_windows_quantized(cur, "event_type", "value", "day", path)


@query(
    "dq_w1_drift_daily_equidepth",
    _EQ_DAILY_PRELUDE
    + "ei AS (SELECT g, ev, row_number() OVER (PARTITION BY g "
    "ORDER BY ev) AS idx FROM e), "
    "mn AS (SELECT g, min(v) AS mn FROM v WHERE NOT cur GROUP BY 1), "
    "m2 AS (SELECT m.g, m.day, m.b, m.r, m.c, "
    "CASE WHEN m.b = 0 THEN x.mn ELSE ei.ev END AS pos "
    "FROM m JOIN mn x ON m.g = x.g "
    "LEFT JOIN ei ON ei.g = m.g AND ei.idx = m.b), "
    "s AS (SELECT g, day, sum(r) OVER (PARTITION BY g, day ORDER BY b "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(c) OVER (PARTITION BY g, day "
    "ORDER BY b ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g, day) AS nr, "
    "sum(c) OVER (PARTITION BY g, day) AS nc, "
    "coalesce(lead(pos) OVER (PARTITION BY g, day ORDER BY b) - pos, 0) "
    "AS span FROM m2) "
    "SELECT g AS event_type, day, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "round(sum(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) * span END) "
    "/ 1000000, 6) AS w1 FROM s GROUP BY g, day",
    doc="EQUI-DEPTH Wasserstein-1 drift TIME SERIES on the SAME store "
    "as dq_ks_drift_daily_equidepth (operators/quality.py "
    "w1_drift_windows_quantized, quantile branch): per (group, day), "
    "the ECDF gap integrates over frozen edge SPACINGS — left-edge "
    "positions, spans in the metric's own units, no uniform rescale — "
    "so the daily earth-mover series stays magnitude-true on skewed "
    "metrics. Per window bit-identical to dq_w1_drift_equidepth on "
    "that window's rows alone (shared _w1_from_bins positions tail, "
    "pinned in test_round13_ops).",
)
def dq_w1_drift_daily_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        w1_drift_windows_quantized,
    )

    path = _eq_daily_store(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cur = ev.filter(F.col("ts") >= cut).withColumn("day", F.to_date("ts"))
    return w1_drift_windows_quantized(cur, "event_type", "value", "day", path)


@query(
    "dq_psi_drift_decile",
    "WITH v AS (SELECT event_type AS g, value AS v, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    # frozen decile geometry: 9 interior edges at exact ranks
    # ceil(i*N/10) — the engine's exact_quantile_edges rank formula
    "rk AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) "
    "AS rn, count(*) OVER (PARTITION BY g) AS nn FROM v WHERE NOT cur), "
    "e AS (SELECT rk.g, rk.v AS ev FROM rk JOIN "
    "(SELECT unnest(generate_series(1, 9)) AS i) i "
    "ON rk.rn = (i.i * rk.nn + 9) // 10), "
    "vc AS (SELECT g, v, cur, count(*) AS cnt FROM v "
    "WHERE g IN (SELECT g FROM v WHERE NOT cur) GROUP BY 1, 2, 3), "
    "bb AS (SELECT vc.g, vc.v, vc.cur, vc.cnt, count(e.ev) AS b "
    "FROM vc LEFT JOIN e ON e.g = vc.g AND vc.v >= e.ev "
    "GROUP BY vc.g, vc.v, vc.cur, vc.cnt), "
    "c AS (SELECT g, b, sum(CASE WHEN cur THEN 0 ELSE cnt END) AS r, "
    "sum(CASE WHEN cur THEN cnt ELSE 0 END) AS cc FROM bb GROUP BY 1, 2), "
    # COMPLETE grid: zero bins still contribute their smoothed term
    "grid AS (SELECT gg.g, i.b FROM (SELECT DISTINCT g FROM c) gg "
    "CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS b) i), "
    "f AS (SELECT grid.g, grid.b, coalesce(c.r, 0) AS r, "
    "coalesce(c.cc, 0) AS cc FROM grid LEFT JOIN c "
    "ON c.g = grid.g AND c.b = grid.b), "
    "s AS (SELECT g, b, r, cc, sum(r) OVER (PARTITION BY g) AS nr, "
    "sum(cc) OVER (PARTITION BY g) AS nc FROM f) "
    "SELECT g AS event_type, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "round(sum(((cc + 1.0) / (nc + 10) - (r + 1.0) / (nr + 10)) * "
    "ln(((cc + 1.0) / (nc + 10)) / ((r + 1.0) / (nr + 10)))), 6) AS psi "
    "FROM s GROUP BY g",
    doc="DECILE PSI — the form model-monitoring practice standardizes "
    "on (operators/quality.py psi_reference_write(edges="
    "'quantile_exact') / psi_drift_probe): bin edges frozen at the "
    "REFERENCE's own deciles rather than an equal-width [mn, max] "
    "grid, so every bucket holds ~10% of reference mass by "
    "construction and each smoothed (q-p)ln(q/p) term carries signal "
    "— on a heavy-tailed metric the width grid parks ~all mass in one "
    "bin and PSI goes numb exactly when it is needed (the quantized-KS "
    "A/B measured the same failure mode, SCALE_NOTES r13). Edges are "
    "exact order statistics (ranks ceil(i*N/10)), bit-reproducible in "
    "SQL; the probe detects the grid kind from the store's carried "
    "edge array, so dashboards switch grids by re-writing the "
    "reference only. Same add-one smoothing / complete-grid tail as "
    "the oracle-green dq_psi_drift family.",
)
def dq_psi_drift_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        psi_drift_probe,
        psi_reference_write,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "psirefdec",
        sf_dir,
        lambda p: psi_reference_write(
            ev.filter(F.col("ts") < cut), "event_type", "value", p,
            n_buckets=10, edges="quantile_exact",
        ),
    )
    return psi_drift_probe(
        ev.filter(F.col("ts") >= cut), "event_type", "value", path
    )


@query(
    "dq_psi_drift_daily_decile",
    "WITH v AS (SELECT event_type AS g, value AS v, ts, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "rk AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) "
    "AS rn, count(*) OVER (PARTITION BY g) AS nn FROM v WHERE NOT cur), "
    "e AS (SELECT rk.g, rk.v AS ev FROM rk JOIN "
    "(SELECT unnest(generate_series(1, 9)) AS i) i "
    "ON rk.rn = (i.i * rk.nn + 9) // 10), "
    "vc AS (SELECT g, v, cur, CAST(ts AS DATE) AS day, count(*) AS cnt "
    "FROM v WHERE g IN (SELECT g FROM v WHERE NOT cur) "
    "GROUP BY 1, 2, 3, 4), "
    "bb AS (SELECT vc.g, vc.day, vc.cur, vc.cnt, count(e.ev) AS b "
    "FROM vc LEFT JOIN e ON e.g = vc.g AND vc.v >= e.ev "
    "GROUP BY vc.g, vc.day, vc.cur, vc.cnt, vc.v), "
    "rc AS (SELECT g, b, sum(cnt)::BIGINT AS r FROM bb WHERE NOT cur "
    "GROUP BY 1, 2), "
    "days AS (SELECT DISTINCT g, day FROM bb WHERE cur), "
    "cc AS (SELECT g, day, b, sum(cnt)::BIGINT AS c FROM bb WHERE cur "
    "GROUP BY 1, 2, 3), "
    # COMPLETE grid per audited (group, day): zero bins contribute
    "grid AS (SELECT d.g, d.day, i.b FROM days d "
    "CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS b) i), "
    "f AS (SELECT grid.g, grid.day, grid.b, coalesce(rc.r, 0) AS r, "
    "coalesce(cc.c, 0) AS c FROM grid "
    "LEFT JOIN rc ON rc.g = grid.g AND rc.b = grid.b "
    "LEFT JOIN cc ON cc.g = grid.g AND cc.day = grid.day "
    "AND cc.b = grid.b), "
    "s AS (SELECT g, day, b, r, c, "
    "sum(r) OVER (PARTITION BY g, day) AS nr, "
    "sum(c) OVER (PARTITION BY g, day) AS nc FROM f) "
    "SELECT g AS event_type, day, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "round(sum(((c + 1.0) / (nc + 10) - (r + 1.0) / (nr + 10)) * "
    "ln(((c + 1.0) / (nc + 10)) / ((r + 1.0) / (nr + 10)))), 6) AS psi "
    "FROM s GROUP BY g, day",
    doc="DECILE PSI TIME SERIES (operators/quality.py psi_drift_windows "
    "over a psi_reference_write(edges='quantile_exact') store): the "
    "daily model-monitoring dashboard in the decile form practice "
    "standardizes on — reference mass pinned at ~10% per bucket by the "
    "frozen rank-quantile edges, so every day's smoothed terms carry "
    "signal on skewed metrics where the width grid goes numb. "
    "Replication cost stays |groups| x 10 x |windows|; per window "
    "bit-identical to dq_psi_drift_decile on that window's rows alone "
    "(the shared _psi_from_filled tail, pinned for the decile store in "
    "test_round13_ops).",
)
def dq_psi_drift_daily_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        psi_drift_windows,
        psi_reference_write,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "psirefdec",
        sf_dir,
        lambda p: psi_reference_write(
            ev.filter(F.col("ts") < cut), "event_type", "value", p,
            n_buckets=10, edges="quantile_exact",
        ),
    )
    cur = ev.filter(F.col("ts") >= cut).withColumn("day", F.to_date("ts"))
    return psi_drift_windows(cur, "event_type", "value", "day", path)


@query(
    "dq_ks_drift_daily",
    "WITH v AS (SELECT event_type AS g, value AS v, ts, "
    "ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur FROM events "
    "WHERE value IS NOT NULL), "
    "rc AS (SELECT g, v AS val, count(*)::BIGINT AS r FROM v "
    "WHERE NOT cur GROUP BY 1, 2), "
    "days AS (SELECT DISTINCT g, CAST(ts AS DATE) AS day FROM v WHERE cur "
    "AND g IN (SELECT g FROM rc)), "
    "cc AS (SELECT g, CAST(ts AS DATE) AS day, v AS val, "
    "count(*)::BIGINT AS c FROM v WHERE cur "
    "AND g IN (SELECT g FROM rc) GROUP BY 1, 2, 3), "
    "u AS (SELECT d.g, d.day, rc.val, rc.r, 0::BIGINT AS c FROM days d "
    "JOIN rc ON d.g = rc.g "
    "UNION ALL SELECT g, day, val, 0::BIGINT, c FROM cc), "
    "m AS (SELECT g, day, val, sum(r) AS r, sum(c) AS c FROM u "
    "GROUP BY 1, 2, 3), "
    "s AS (SELECT g, day, sum(r) OVER (PARTITION BY g, day ORDER BY val "
    "ROWS UNBOUNDED PRECEDING) AS cr, sum(c) OVER (PARTITION BY g, day "
    "ORDER BY val ROWS UNBOUNDED PRECEDING) AS ccum, "
    "sum(r) OVER (PARTITION BY g, day) AS nr, "
    "sum(c) OVER (PARTITION BY g, day) AS nc FROM m) "
    "SELECT g AS event_type, day, max(nr)::BIGINT AS n_ref, "
    "max(nc)::BIGINT AS n_cur, "
    "max(CASE WHEN nr > 0 AND nc > 0 THEN "
    "abs((cr * 1000000) // nr - (ccum * 1000000) // nc) END)::BIGINT "
    "AS ks_x1e6 FROM s GROUP BY g, day",
    doc="KS drift TIME SERIES (operators/quality.py ks_drift_windows): "
    "the exact integer-ECDF gap per (event type, DAY) against the "
    "persisted reference counts — the binning-free companion to "
    "dq_psi_drift_daily on the same monitoring dashboard. The stored "
    "per-(type, value) counts replicate onto each day the type has "
    "current rows for, merge with the batch's per-(type, day, value) "
    "counts, and run the shared integer-ECDF tail keyed by (type, day) "
    "— bit-identical per day to probing that day's rows alone (pinned "
    "in test_round11_ops). Cost is linear in audit windows (each "
    "window's ECDF needs the full reference CDF — inherent to the "
    "time-series form).",
)
def dq_ks_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        ks_drift_windows,
        ks_reference_write,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "ksref",
        sf_dir,
        lambda p: ks_reference_write(
            ev.filter(F.col("ts") < cut), "event_type", "value", p
        ),
    )
    cur = ev.filter(F.col("ts") >= cut).withColumn("day", F.to_date("ts"))
    return ks_drift_windows(cur, "event_type", "value", "day", path)


@query(
    "dq_chi2_drift_incremental",
    "WITH v AS (SELECT coalesce(o_orderpriority, '__null__') AS c, "
    "o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AS cur FROM orders), "
    "k AS (SELECT c, sum(CASE WHEN cur THEN 0 ELSE 1 END) AS r, "
    "sum(CASE WHEN cur THEN 1 ELSE 0 END) AS q FROM v GROUP BY c), "
    "t AS (SELECT c, r, q, sum(r) OVER () AS tr, sum(q) OVER () AS tq, "
    "r + q AS n, sum(r) OVER () + sum(q) OVER () AS tn FROM k) "
    "SELECT max(tr)::BIGINT AS n_ref, max(tq)::BIGINT AS n_cur, "
    "count(*)::BIGINT AS n_categories, (count(*) - 1)::BIGINT AS dof, "
    "round(sum(CASE WHEN tr > 0 AND tq > 0 THEN "
    "(r - tr*n/tn) * (r - tr*n/tn) / (tr*n/tn) + "
    "(q - tq*n/tn) * (q - tq*n/tn) / (tq*n/tn) END), 6) AS chi2 FROM t",
    doc="Incremental chi-square drift (operators/quality.py "
    "chi2_reference_write / chi2_drift_probe): persisted per-category "
    "reference counts, probe = one batch aggregate + a |categories|-"
    "bounded merge. Exact integer counts are the sufficient statistic, "
    "so the probe is bit-identical to the batch dq_chi2_drift by "
    "construction — INCLUDING categories first seen in the current "
    "batch (they merge in with reference count 0); the oracle is "
    "therefore the batch SQL verbatim.",
)
def dq_chi2_drift_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        chi2_drift_probe,
        chi2_reference_write,
    )

    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "chi2ref",
        sf_dir,
        lambda p: chi2_reference_write(
            o.filter(F.col("o_orderdate") < cut), "o_orderpriority", p
        ),
    )
    return chi2_drift_probe(
        o.filter(F.col("o_orderdate") >= cut), "o_orderpriority", path
    )


@query(
    "dq_chi2_drift_monthly",
    "WITH v AS (SELECT coalesce(o_orderpriority, '__null__') AS c, "
    "o_orderdate, o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AS cur "
    "FROM orders), "
    "rc AS (SELECT c, count(*)::BIGINT AS r FROM v WHERE NOT cur "
    "GROUP BY 1), "
    "cc AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS w, "
    "c, count(*)::BIGINT AS q FROM v WHERE cur GROUP BY 1, 2), "
    "wins AS (SELECT DISTINCT w FROM cc), "
    "u AS (SELECT wins.w, rc.c, rc.r, 0::BIGINT AS q FROM wins "
    "CROSS JOIN rc UNION ALL SELECT w, c, 0::BIGINT, q FROM cc), "
    "m AS (SELECT w, c, sum(r) AS r, sum(q) AS q FROM u GROUP BY 1, 2), "
    "t AS (SELECT w, c, r, q, sum(r) OVER (PARTITION BY w) AS tr, "
    "sum(q) OVER (PARTITION BY w) AS tq, r + q AS n, "
    "sum(r) OVER (PARTITION BY w) + sum(q) OVER (PARTITION BY w) AS tn "
    "FROM m) "
    "SELECT w AS month, max(tr)::BIGINT AS n_ref, max(tq)::BIGINT AS n_cur, "
    "count(*)::BIGINT AS n_categories, (count(*) - 1)::BIGINT AS dof, "
    "round(sum(CASE WHEN tr > 0 AND tq > 0 THEN "
    "(r - tr*n/tn) * (r - tr*n/tn) / (tr*n/tn) + "
    "(q - tq*n/tn) * (q - tq*n/tn) / (tq*n/tn) END), 6) AS chi2 "
    "FROM t GROUP BY w",
    doc="Chi-square drift TIME SERIES (operators/quality.py "
    "chi2_drift_windows): one homogeneity statistic per MONTH of "
    "post-1998 orders against the persisted pre-1998 order-priority "
    "counts — the categorical leg of the windowed drift dashboard "
    "(dq_psi_drift_daily / dq_ks_drift_daily cover continuous). Stored "
    "counts replicate onto each month with current rows (categories "
    "first seen in a month enter with reference count 0), shared tail "
    "keyed by month; bit-identical per month to probing that month "
    "alone (pinned in test_round11_ops). Merge frame bounded by "
    "months x categories.",
)
def dq_chi2_drift_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        chi2_drift_windows,
        chi2_reference_write,
    )

    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    path = _process_cached_index(
        "chi2ref",
        sf_dir,
        lambda p: chi2_reference_write(
            o.filter(F.col("o_orderdate") < cut), "o_orderpriority", p
        ),
    )
    cur = o.filter(F.col("o_orderdate") >= cut).withColumn(
        "month", F.to_date(F.date_trunc("month", "o_orderdate"))
    )
    return chi2_drift_windows(cur, "o_orderpriority", "month", path)


_EMB_DRIFT_ORACLE = (
    "WITH e AS (SELECT vec_id % 4 = 0 AS cur, embedding FROM embeddings "
    "WHERE embedding IS NOT NULL), "
    "v AS (SELECT cur, generate_subscripts(embedding, 1) AS i, "
    "unnest(embedding)::DOUBLE AS x FROM e), "
    "m AS (SELECT i, avg(CASE WHEN NOT cur THEN x END) AS mr, "
    "avg(CASE WHEN cur THEN x END) AS mc FROM v GROUP BY i), "
    "c AS (SELECT sum(CASE WHEN cur THEN 0 ELSE 1 END)::BIGINT AS n_ref, "
    "sum(CASE WHEN cur THEN 1 ELSE 0 END)::BIGINT AS n_cur FROM e), "
    "a AS (SELECT sum(mr*mc) AS dot, sum(mr*mr) AS nr2, sum(mc*mc) AS nc2, "
    "sum((mr-mc)*(mr-mc)) AS g2, max(abs(mr-mc)) AS gmax FROM m) "
    "SELECT n_ref, n_cur, "
    "round(dot/(sqrt(nr2)*sqrt(nc2)), 6) AS centroid_cosine, "
    "round(sqrt(g2), 6) AS mean_gap_l2, round(gmax, 6) AS max_dim_gap "
    "FROM c CROSS JOIN a"
)


@query(
    "dq_embedding_drift",
    _EMB_DRIFT_ORACLE,
    doc="Embedding-distribution drift audit (operators/quality.py "
    "embedding_drift) — the drift family extended to the array<float> "
    "column (centroid monitoring, public method): per-dimension mean "
    "vectors of the reference (vec_id % 4 != 0) and current populations, "
    "then cosine between centroids, L2 mean-gap and max per-dimension "
    "gap in ONE row. Catches an embedding-model swap / preprocessing "
    "change / topic shift no scalar audit sees. One posexplode + "
    "(dimension, population) conditional mean is the only data-sized "
    "pass; everything after is bounded by the 64-4096 embedding "
    "dimension. Means accumulate in DOUBLE, results round to 6 (the "
    "sim_label_cohesion FP contract).",
)
def dq_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import embedding_drift

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "is_cur", F.col("vec_id") % 4 == 0
    )
    return embedding_drift(emb, "embedding", "is_cur")


@query(
    "dq_embedding_drift_incremental",
    _EMB_DRIFT_ORACLE,
    doc="Incremental embedding drift (operators/quality.py "
    "embedding_reference_write / embedding_drift_probe): the persisted "
    "reference statistic is the per-dimension mean vector + count — "
    "DIMENSION-sized (a few KB) however large the reference corpus, the "
    "extreme case of the r11 persisted-reference pattern. The probe "
    "costs one pass over the current batch plus a broadcast store read; "
    "equals the batch recompute to the 6-dp rounding grain (the stored "
    "means ARE the build-time means), so the oracle is the batch SQL "
    "verbatim.",
)
def dq_embedding_drift_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from wms_data_pipeline_spark.operators.quality import (
        embedding_drift_probe,
        embedding_reference_write,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path = _process_cached_index(
        "embref",
        sf_dir,
        lambda p: embedding_reference_write(
            emb.filter(F.col("vec_id") % 4 != 0), "embedding", p
        ),
    )
    return embedding_drift_probe(
        emb.filter(F.col("vec_id") % 4 == 0), "embedding", path
    )
