"""Scale-up stress: run the engine's hottest operators at 100-1000× the
bench scale on synthetic data, printing rows/sec. This is the "would the
plan survive a 100× scale-up" check — same plan shapes as the sf0.1 bench,
only the volume changes.

Usage: python tools/stress.py [n_events_millions] [doc_copies]
  default: 50M events; documents table (sf0.1, 5k docs) tiled 128× → 640k
  docs for the MinHash+LSH pair stage.

       python tools/stress.py --embeddings [copies]
  tiles sf0.1 embeddings with per-vector decorrelating noise and runs the
  sketch-banded near-dup at scale (500 copies → 1M vectors) with the
  widened 60-bit/10-bit-band sketch (band_bits ≈ log2(n) − 7; exactness
  needs bands ≥ hamming_max + 1). Run with SPARK_GRAFT_DRIVER_MEM=64g.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wms_data_pipeline_spark.operators.dedup import minhash_neardup_pairs
from wms_data_pipeline_spark.operators.merge import latest_merge
from wms_data_pipeline_spark.session import get_spark


def embeddings_stress(copies: int = 500) -> None:
    from wms_data_pipeline_spark.operators.similarity import sketch_banded_neardup

    spark = get_spark("stress-embeddings")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    cdf = spark.range(copies).select(F.col("id").alias("copy"))
    tiled = (
        emb.crossJoin(cdf)
        .select(
            (F.col("vec_id") + F.col("copy") * n).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> x + cast(pmod("
                f"xxhash64((vec_id + copy * {n}) * 64 + i), 1000) as double)"
                " / 500.0 - 1.0)"
            ).alias("embedding"),
        )
        .repartition(256)
    )
    total = n * copies
    # Auto-sizing INSIDE the timer (VERDICT r3 #8): the operator runs its
    # own corpus-count control job and derives the geometry, exactly the
    # path a user gets by default. At 1M vectors this yields the
    # stress-proven 60-bit / 6x10-bit config.
    from wms_data_pipeline_spark.operators.similarity import auto_band_config

    cfg = auto_band_config(total, hamming_max=5)
    t0 = time.perf_counter()
    cnt = sketch_banded_neardup(tiled, hamming_max=5).count()
    dt = time.perf_counter() - t0
    print(
        f"sketch_banded_neardup over {total} vectors "
        f"(auto config n_planes/bands/band_bits={cfg}): {dt:.1f}s "
        f"({cnt} pairs; all-pairs would be {total * (total - 1) // 2:.1e})",
        flush=True,
    )
    spark.stop()


def partitioned_merge_stress(
    n_rows: int = 5_000_000, n_buckets: int = 64, batch_rows: int = 20_000
) -> None:
    """VERDICT r2 #5: prove the bucket-pruned merge touches only the
    batch's buckets at a scale where that matters — a small CDC batch into
    a large bucketed latest-state table must read+rewrite ≤ the batch's
    bucket count of directories, never the table; contrast with the
    unpartitioned ParquetTable whose merge rewrites everything."""
    import shutil
    import tempfile

    from wms_data_pipeline_spark.operators.merge import ParquetTable
    from wms_data_pipeline_spark.operators.merge_partitioned import (
        PartitionedMergeTable,
    )

    spark = get_spark("stress-partitioned")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stress_pmerge_")

    def mkrows(ids):
        return ids.select(
            F.concat(F.lit("k"), F.col("id")).alias("id"),
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000) + F.col("id")
            ).alias("updated_at"),
            F.lit("payload").alias("payload"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload_hash"),
        )

    base = mkrows(spark.range(0, n_rows, 1, 64)).localCheckpoint(eager=False)
    pt = PartitionedMergeTable(spark, f"{work}/pt", n_buckets=n_buckets)
    t0 = time.perf_counter()
    pt.upsert_latest(base)
    t_load = time.perf_counter() - t0

    # CDC batch confined to a handful of buckets: newer rows whose keys hash
    # into buckets {0..3} (same murmur3 bucket expr the table uses).
    cand = mkrows(spark.range(0, batch_rows * n_buckets)).withColumn(
        "updated_at", F.timestamp_micros(F.lit(1_800_000_000_000_000) + F.monotonically_increasing_id())
    )
    small = cand.filter(
        F.pmod(F.hash(F.col("id")), F.lit(n_buckets)) < 4
    ).limit(batch_rows).localCheckpoint(eager=False)

    vers_before = {b: pt.bucket(b).current_version() for b in range(n_buckets)}
    t0 = time.perf_counter()
    affected = pt.upsert_latest(small)
    t_merge = time.perf_counter() - t0
    vers_after = {b: pt.bucket(b).current_version() for b in range(n_buckets)}
    touched = [b for b in range(n_buckets) if vers_before[b] != vers_after[b]]

    t0 = time.perf_counter()
    n_del = pt.delete_keys(small.select("id").limit(2_000))
    t_del = time.perf_counter() - t0
    vers_del = {b: pt.bucket(b).current_version() for b in range(n_buckets)}
    touched_del = [b for b in range(n_buckets) if vers_after[b] != vers_del[b]]

    # contrast: unpartitioned merge of the same batch rewrites the table
    up = ParquetTable(spark, f"{work}/flat")
    up.upsert_latest(base)
    t0 = time.perf_counter()
    up.upsert_latest(small)
    t_flat = time.perf_counter() - t0

    print(
        f"partitioned merge: {n_rows} rows / {n_buckets} buckets; "
        f"load {t_load:.1f}s; batch {batch_rows} rows -> affected {affected}, "
        f"buckets touched {len(touched)}/{n_buckets} {touched}, {t_merge:.1f}s; "
        f"delete {n_del} keys -> buckets touched {len(touched_del)}/{n_buckets}, "
        f"{t_del:.1f}s; unpartitioned same-batch merge {t_flat:.1f}s "
        f"({t_flat / max(t_merge, 1e-9):.1f}x slower)",
        flush=True,
    )
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


def skew_stress(n_events: int = 50_000_000, hot_frac: float = 0.5) -> None:
    """Latest-state under hot-key skew: ``hot_frac`` of all rows land on ONE
    user. The window form serializes that key into a single task's sort;
    salted_latest (two-phase max_by) reduces it map-side. Same winners
    (pinned by test_skew_bucketing.py); this leg measures the wall-clock
    gap the salting buys at scale, and drives the public
    ``latest_state(skew="auto")`` dispatcher to prove its sampled probe
    picks the salted plan here."""
    from wms_data_pipeline_spark.operators.skew import latest_state, salted_latest

    spark = get_spark("stress-skew")
    spark.sparkContext.setLogLevel("ERROR")
    hot_cut = int(n_events * hot_frac)
    ev = spark.range(0, n_events, 1, 256).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < hot_cut, F.lit(0))
        .otherwise(F.xxhash64(F.col("id")) % 1_000_000)
        .alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + (F.xxhash64(F.col("id"), F.lit(3)) % 86_400_000_000)
        ).alias("ts"),
        (F.xxhash64(F.col("id"), F.lit(1)) % 97).cast("double").alias("value"),
    ).localCheckpoint(eager=False)

    t0 = time.perf_counter()
    n_window = latest_merge(
        None, ev, key="user_id", ts_col="ts", tiebreak_col="event_id"
    ).count()
    t_window = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_salted = salted_latest(ev, "user_id", "ts", "event_id").count()
    t_salted = time.perf_counter() - t0

    t0 = time.perf_counter()
    auto_df = latest_state(ev, "user_id", "ts", "event_id", skew="auto")
    auto_picked_salted = "Window" not in (
        auto_df._jdf.queryExecution().optimizedPlan().toString()
    )
    n_auto = auto_df.count()
    t_auto = time.perf_counter() - t0

    assert n_window == n_salted == n_auto, (n_window, n_salted, n_auto)
    assert auto_picked_salted, "auto probe failed to detect the hot key"
    print(
        f"latest-state, {n_events} rows, {hot_frac:.0%} on one key: "
        f"window {t_window:.1f}s vs salted two-phase {t_salted:.1f}s "
        f"({t_window / max(t_salted, 1e-9):.1f}x; {n_salted} keys); "
        f"latest_state(skew=auto) picked salted, {t_auto:.1f}s incl probe",
        flush=True,
    )
    spark.stop()


_STATE_STORE_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


def streaming_stress(
    rows_per_batch: int = 4_000_000,
    run_seconds: int = 90,
    key_space: int = 500_000,
    only_provider: str | None = None,
) -> None:
    """Structured Streaming throughput: rate-micro-batch source →
    watermarked keyed dedup → tumbling-window counts → noop sink, the
    §2.2 pipeline shape under sustained load. Reports per-batch
    processedRowsPerSecond from the engine's own progress metrics (not
    wall-clock guesswork). State stays bounded: dedup keys expire at the
    watermark, windows emit and drop once the watermark passes them.

    Uses ``rate-micro-batch`` (fixed rows per batch, event time advancing
    1s/batch) rather than ``rate``: the wall-clock rate source hands the
    entire accumulated backlog to whichever batch runs next, so a
    saturated run degenerates into one giant catch-up batch whose
    processedRowsPerSecond mixes state-store warmup into the number.
    Fixed-size batches give a stable per-batch steady state after the
    first batch (dropped as warmup).

    Runs once per state-store provider: the default HDFS-backed in-memory
    map and the in-box RocksDB provider (pyspark bundles rocksdbjni).
    The provider class is a per-query SQL conf, pinned at query start via
    the checkpoint, so one session A/Bs both legs back to back."""
    import statistics
    import tempfile

    from wms_data_pipeline_spark.streaming.pipeline import dedup_stream, tumbling_counts

    spark = get_spark("stress-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    import json

    for provider, cls in _STATE_STORE_PROVIDERS.items():
        if only_provider and provider != only_provider:
            continue
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
        src = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", rows_per_batch)
            .option("numPartitions", 32)
            .option("advanceMillisPerBatch", 1000)
            .load()
        )
        ev = src.select(
            (F.col("value") % key_space).alias("id"),
            F.col("timestamp").alias("updated_at"),
            (F.col("value") % 97).cast("double").alias("v"),
        )
        deduped = dedup_stream(ev, keys=["id", "updated_at"], delay="10 seconds")
        agg = tumbling_counts(
            deduped, ts_col="updated_at", window="5 seconds", delay="5 seconds", keys=[]
        )
        ckpt = tempfile.mkdtemp(prefix=f"stress_stream_ckpt_{provider}_")
        q = (
            agg.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        time.sleep(run_seconds)
        progress = [
            json.loads(p) if isinstance(p, str) else p for p in q.recentProgress
        ]
        rates = [
            p["processedRowsPerSecond"]
            for p in progress
            if p.get("numInputRows", 0) > 0
        ][1:]  # drop batch 1: state-store + codegen warmup
        q.stop()
        if rates:
            print(
                f"[{provider}] streaming dedup+window, {rows_per_batch / 1e6:.0f}M-row "
                f"micro-batches: sustained median {statistics.median(rates) / 1e6:.2f}M rows/s "
                f"(p10 {sorted(rates)[len(rates) // 10] / 1e6:.2f}M) over {len(rates)} batches",
                flush=True,
            )
        else:
            print(f"[{provider}] streaming stress: no steady-state batches", flush=True)
    spark.stop()


def stateful_stress(
    rows_per_batch: int = 4_000_000,
    run_seconds: int = 420,
    key_space: int = 60_000_000,
    only_provider: str | None = None,
) -> None:
    """Drive the applyInPandasWithState newer-wins operator
    (streaming/stateful.latest_state_changes) to a live-key cardinality
    ABOVE the measured ~40M state-store crossover and record which
    provider sustains (VERDICT r5 #7). rate-micro-batch feeds
    ``rows_per_batch`` fresh keys per batch (value % key_space — every
    key new until the space saturates), so live state grows linearly;
    the engine's own stateOperators metrics report exact live keys
    (numRowsTotal) per batch alongside processedRowsPerSecond.

    Expected shape going in was heap-provider GC death vs RocksDB
    sustaining; MEASURED shape (SCALE_NOTES r6) is that neither provider
    is the constraint: applyInPandasWithState is bound by per-GROUP
    Python dispatch at ~6-7k groups/s (0.01M rows/s at 1 row/group,
    0.11-0.12M rows/s at 20 rows/group, providers within noise), so the
    40M-key crossover is unreachable through this operator — fresh-key
    batches of 1M+ rows simply never finish a batch. Keep runs in the
    feasible regime (e.g. ``--stateful 0.2 180 60`` or
    ``--stateful 4 150 0.2``) and read rows/s as groups/s × rows-per-
    group. RUN EACH PROVIDER IN ITS OWN PROCESS (pass the provider
    arg) so a provider failure cannot poison the other leg."""
    import json
    import statistics
    import tempfile

    from wms_data_pipeline_spark.streaming.stateful import latest_state_changes

    spark = get_spark("stress-stateful")
    spark.sparkContext.setLogLevel("ERROR")
    for provider, cls in _STATE_STORE_PROVIDERS.items():
        if only_provider and provider != only_provider:
            continue
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
        src = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", rows_per_batch)
            .option("numPartitions", 32)
            .option("advanceMillisPerBatch", 1000)
            .load()
        )
        ev = src.select(
            (F.col("value") % key_space).alias("id"),
            F.col("timestamp").alias("updated_at"),
            (F.col("value") % 97).cast("double").alias("v"),
        )
        changes = latest_state_changes(ev, key="id", ts_col="updated_at")
        ckpt = tempfile.mkdtemp(prefix=f"stress_stateful_ckpt_{provider}_")
        q = (
            changes.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        t_end = time.time() + run_seconds
        err = None
        above_seen = 0
        last_batch = -1
        try:
            while time.time() < t_end and q.isActive:
                time.sleep(10)
                # walk ALL unseen progress entries, not just the newest:
                # with sub-10s batches the poll would otherwise sample a
                # fraction of batches and the above_seen early-exit would
                # fire long after the measurement window closed
                for p in q.recentProgress:
                    p = json.loads(p) if isinstance(p, str) else p
                    bid = p.get("batchId")
                    if bid is None or bid <= last_batch:
                        continue
                    last_batch = bid
                    live = (p.get("stateOperators") or [{}])[0].get("numRowsTotal")
                    print(
                        f"[{provider}] batch {p.get('batchId')}: "
                        f"{p.get('processedRowsPerSecond', 0) / 1e6:.2f}M rows/s, "
                        f"live keys {live}",
                        flush=True,
                    )
                    if live and live > 40_000_000:
                        above_seen += 1
                # the claim is "sustains ABOVE the crossover": 3 full batches
                # past 40M live keys measure it — no need to run to key_space
                if above_seen >= 3:
                    break
        except BaseException as e:  # noqa: BLE001 — the failure IS the result
            err = e
        finally:
            try:
                exc = q.exception()
            except BaseException:
                exc = None
            try:
                q.stop()
            except BaseException:
                pass
        progress = [
            json.loads(p) if isinstance(p, str) else p for p in q.recentProgress
        ]
        rows = [
            (
                (p.get("stateOperators") or [{}])[0].get("numRowsTotal", 0),
                p["processedRowsPerSecond"],
            )
            for p in progress
            if p.get("numInputRows", 0) > 0
        ][1:]
        above = [r for live, r in rows if live and live > 40_000_000]
        below = [r for live, r in rows if not live or live <= 40_000_000]
        msg = f"[{provider}] newer-wins stateful stress, {rows_per_batch / 1e6:.0f}M-row batches: "
        if below:
            msg += f"below-40M-keys median {statistics.median(below) / 1e6:.2f}M rows/s ({len(below)} batches); "
        if above:
            msg += f"ABOVE-40M-keys median {statistics.median(above) / 1e6:.2f}M rows/s ({len(above)} batches)"
        else:
            msg += "never reached 40M live keys"
        if exc is not None:
            msg += f"; QUERY DIED: {str(exc)[:300]}"
        if err is not None:
            msg += f"; DRIVER ERROR: {type(err).__name__}: {str(err)[:200]}"
        max_live = max((live for live, _ in rows if live), default=0)
        msg += f"; max live keys {max_live}"
        print(msg, flush=True)
    spark.stop()


def foreachbatch_merge_stress(
    rows_per_batch: int = 200_000,
    run_seconds: int = 240,
    key_space: int = 60_000_000,
) -> None:
    """The third streaming newer-wins leg (VERDICT r6 #4): watermarked
    foreachBatch → ``latest_merge`` into a versioned ParquetTable — the
    repo's recommended fallback to the measured ~6-7k groups/s Python
    stateful dispatch ceiling. Same workload shape as ``--stateful``:
    rate-micro-batch feeds ``rows_per_batch`` FRESH keys per batch, so
    accumulated state grows linearly and the per-batch cost curve is the
    measurement — a full-rewrite merge pays O(state + batch) per batch
    (one window job over S+B rows), so sustained rows/s DECAYS as state
    grows; the quantity to record is rows/s at each state size, which
    tells a user exactly where this leg stops being the right answer and
    bucket-pruned / Delta merges take over. Prints one line per batch
    (state rows before the merge, batch wall, rows/s) and a summary."""
    import statistics
    import tempfile

    from wms_data_pipeline_spark.operators.merge import ParquetTable

    spark = get_spark("stress-fbmerge")
    spark.sparkContext.setLogLevel("ERROR")
    warehouse = tempfile.mkdtemp(prefix="stress_fbmerge_wh_")
    ckpt = tempfile.mkdtemp(prefix="stress_fbmerge_ckpt_")
    latest = ParquetTable(spark, os.path.join(warehouse, "latest"))
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", 32)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    ev = src.select(
        (F.col("value") % key_space).alias("id"),
        F.col("timestamp").alias("updated_at"),
        (F.col("value") % 97).cast("double").alias("v"),
    )
    samples: list[tuple[int, float]] = []  # (state_rows_before, rows_per_sec)
    state_rows = 0

    def _merge(batch, batch_id):
        nonlocal state_rows
        t0 = time.perf_counter()
        latest.upsert_latest(batch, ts_col="updated_at")
        wall = time.perf_counter() - t0
        rps = rows_per_batch / wall
        samples.append((state_rows, rps))
        print(
            f"batch {batch_id}: state {state_rows / 1e6:.2f}M rows before, "
            f"merge {wall:.1f}s = {rps / 1e3:.0f}k rows/s",
            flush=True,
        )
        state_rows += rows_per_batch  # fresh keys: every batch inserts

    q = (
        ev.withWatermark("updated_at", "2 minutes")
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", ckpt)
        .start()
    )
    t_end = time.time() + run_seconds
    try:
        while time.time() < t_end and q.isActive:
            time.sleep(5)
    finally:
        try:
            q.stop()
        except BaseException:
            pass
    if samples:
        # bucket the decay curve by state size for the SCALE_NOTES table
        print("\n=== rows/s by state size (paste into SCALE_NOTES) ===")
        for lo, hi in ((0, 1), (1, 2), (2, 4), (4, 8), (8, 100)):
            rs = [r for s, r in samples if lo * 1e6 <= s < hi * 1e6]
            if rs:
                print(
                    f"state {lo}-{hi}M rows: median "
                    f"{statistics.median(rs) / 1e3:.0f}k rows/s "
                    f"({len(rs)} batches)"
                )
        print(
            f"total: {len(samples)} batches, final state "
            f"{state_rows / 1e6:.2f}M rows"
        )
    spark.stop()


def multimodal_stress(n_items: int = 200_000) -> None:
    """Multimodal decode-stage throughput: genuine PPM/WAV blobs through
    the Arrow mapInPandas stages (real header parse + numpy pixel/sample
    work). Blobs are localCheckpoint-materialized first so each stage's
    number excludes blob generation. Items here are tiny (≤16×8 rasters,
    ≤810 samples), so this measures the per-item Python + Arrow overhead
    floor — larger media shift time into numpy work, which scales with
    bytes, not items."""
    from wms_data_pipeline_spark.operators import multimodal as mm

    spark = get_spark("stress-multimodal")
    spark.sparkContext.setLogLevel("ERROR")
    ids = spark.range(n_items).select(F.col("id").alias("doc_id")).repartition(32)
    ppm = mm.with_ppm_content(ids).localCheckpoint()
    bmp = mm.with_bmp_content(ids).localCheckpoint()
    wav = mm.with_wav_content(ids).localCheckpoint()
    gif = mm.with_gif_content(ids).localCheckpoint()
    png = mm.with_png_content(ids).localCheckpoint()

    def run(label, df):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        print(f"{label}: {n_items / best / 1e3:.0f}k items/s ({best:.2f}s)", flush=True)

    run("image decode (netpbm real)", mm.decode_images(ppm, decoder="real"))
    run("image resize 4x2", mm.resize_images(ppm, out_w=4, out_h=2))
    run("image features", mm.image_features(ppm))
    run("image features (bmp layout undo)", mm.image_features(bmp))
    # the only codec-BEARING leg: per-item pure-Python LZW decompression —
    # inherently sequential within a stream (each code extends the dict),
    # parallel only ACROSS items; expect 1-2 orders below the layout-only
    # formats' Arrow overhead floor
    run("image features (gif lzw decompress)", mm.image_features(gif))
    run("image features (png inflate+unfilter)", mm.image_features(png))
    run("audio decode+features (wav)", mm.audio_features(wav))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--multimodal":
        multimodal_stress(int(sys.argv[2]) if len(sys.argv) > 2 else 200_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--streaming":
        streaming_stress(
            int(float(sys.argv[2]) * 1e6) if len(sys.argv) > 2 else 4_000_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 90,
            int(float(sys.argv[4]) * 1e6) if len(sys.argv) > 4 else 500_000,
            sys.argv[5] if len(sys.argv) > 5 else None,
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--fbmerge":
        foreachbatch_merge_stress(
            int(float(sys.argv[2]) * 1e6) if len(sys.argv) > 2 else 200_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 240,
            int(float(sys.argv[4]) * 1e6) if len(sys.argv) > 4 else 60_000_000,
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--stateful":
        stateful_stress(
            int(float(sys.argv[2]) * 1e6) if len(sys.argv) > 2 else 4_000_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 420,
            int(float(sys.argv[4]) * 1e6) if len(sys.argv) > 4 else 60_000_000,
            sys.argv[5] if len(sys.argv) > 5 else None,
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        skew_stress(
            int(float(sys.argv[2]) * 1e6) if len(sys.argv) > 2 else 50_000_000
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--embeddings":
        embeddings_stress(int(sys.argv[2]) if len(sys.argv) > 2 else 500)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--partitioned":
        partitioned_merge_stress(
            int(float(sys.argv[2]) * 1e6) if len(sys.argv) > 2 else 5_000_000
        )
        return
    n_events = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 else 50_000_000
    doc_copies = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")

    # -- synthetic out-of-order event stream: 1M keys, shuffled times ------
    ev = (
        spark.range(0, n_events, 1, 256)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 1_000_000).alias("user_id"),
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000)
                + (F.xxhash64(F.col("id")) % 86_400_000_000)
            ).alias("ts"),
            (F.xxhash64(F.col("id"), F.lit(1)) % 97).cast("double").alias("value"),
        )
    )

    def run(label, df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        print(f"{label}: {dt:.1f}s  {n_events / dt / 1e6:.2f}M rows/s", flush=True)

    latest = latest_merge(
        None, ev, key="user_id", ts_col="ts", tiebreak_col="event_id"
    )
    run("latest_state (1-pass window keep-newest)", latest)

    dedup = ev.dropDuplicates(["user_id", "ts"])
    run("exact keyed dedup", dedup)

    tumbling = ev.groupBy(F.window("ts", "10 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
    )
    run("tumbling-window agg", tumbling)

    # -- MinHash+LSH pairs at doc_copies × the sf0.1 corpus ----------------
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    copies = spark.range(doc_copies).select(F.col("id").alias("copy"))
    tiled = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy") * n_docs).alias("doc_id"),
            # rewrite EVERY token per copy so copies are DISJOINT corpora:
            # appending a single trailing token instead leaves cross-copy
            # Jaccard ≈ 0.97 and the output explodes to Ω(n·k²) genuine
            # pairs (44M at 128 copies) — that stresses pair
            # materialization, not the banded plan under test.
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(t, F.lit("_"), F.col("copy").cast("string")),
                ),
                " ",
            ).alias("text"),
        )
        .repartition(256)
    )
    total_docs = n_docs * doc_copies
    t0 = time.perf_counter()
    n_pairs = minhash_neardup_pairs(tiled).count()
    dt = time.perf_counter() - t0
    print(
        f"minhash_neardup_pairs over {total_docs} docs: {dt:.1f}s  "
        f"{total_docs / dt / 1e3:.0f}k docs/s  ({n_pairs} pairs)",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
