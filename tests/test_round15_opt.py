"""Round-15 optimization pins: every change here is a pure physical-plan
change — these tests assert the optimized dispatch produces bit-identical
results to the reference dispatch on the same input."""

import random

import pytest  # noqa: F401 (parametrize/remnant symmetry with siblings)


def test_census_shuffle_fallback_matches_broadcast_path(spark, monkeypatch):
    """The r15 shuffled-hash fallback of _edge_intersections (and the
    single-action gate counts feeding it) must be a pure plan change:
    forcing every gate to the shuffle/no-broadcast branch yields the
    same census row and the same per-node clustering rows as the
    broadcast dispatch."""
    from wms_data_pipeline_spark.operators import graph as gr

    rng = random.Random(43)
    canon = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(60), rng.randrange(60)) for _ in range(500)
            )
            if a != b
        }
    )
    edges = spark.createDataFrame(canon, "src long, dst long")
    t_b = gr.triangle_stats(edges, assume_canonical=True).collect()
    c_b = sorted(
        map(tuple, gr.node_clustering(edges, assume_canonical=True).collect())
    )
    monkeypatch.setattr(gr, "BROADCAST_CLOSURE_MAX_EDGES", 0)
    monkeypatch.setattr(gr, "BROADCAST_DEG_MAX_NODES", 0)
    t_s = gr.triangle_stats(edges, assume_canonical=True).collect()
    c_s = sorted(
        map(tuple, gr.node_clustering(edges, assume_canonical=True).collect())
    )
    assert t_b == t_s
    assert c_b == c_s
    # sanity: the graph actually has triangles, so the pin is not vacuous
    assert t_b[0]["n_triangles"] > 0


def test_containment_broadcast_probe_matches_join_path(spark, monkeypatch):
    """The r15 small-probe broadcast dispatch of containment_join must be
    a pure plan change: bit-identical pairs and containment values vs
    the generic prefix-filter join path on the same input, and both
    equal the all-pairs brute force (boundary docs included)."""
    import itertools  # noqa: F401

    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import dedup as dd

    rng = random.Random(151)
    vocab = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 25))))
            for i in range(120)
        ]
        + [(120, "w0 w1 w2 w3 w4"), (121, "w0 w1 w2 w3")],  # t=0.8 edges
        "doc_id long, text string",
    )
    probe = docs.filter(F.col("doc_id") < 25)
    got_b = sorted(
        map(tuple, dd.containment_join(probe, docs, threshold=0.8).collect())
    )
    monkeypatch.setattr(dd, "MAX_BROADCAST_PROBE_DOCS", -1)  # force join path
    got_j = sorted(
        map(tuple, dd.containment_join(probe, docs, threshold=0.8).collect())
    )
    assert got_b == got_j
    prows = {r.doc_id: set(r.tk) for r in probe.select(
        "doc_id", F.array_distinct(F.split("text", r"\s+")).alias("tk")).collect()}
    crows = {r.doc_id: set(r.tk) for r in docs.select(
        "doc_id", F.array_distinct(F.split("text", r"\s+")).alias("tk")).collect()}
    want = []
    for ia, sa in prows.items():
        for ib, sb in crows.items():
            if ia == ib or not sa:
                continue
            cont = len(sa & sb) / len(sa)
            if cont >= 0.8:
                want.append((ia, ib, round(cont, 6)))
    assert got_b == sorted(want)
    assert len(got_b) > 0  # non-vacuous


def test_containment_broadcast_probe_empty_and_null_inputs(spark):
    """Degenerate inputs on the broadcast path: empty probe returns an
    empty frame with the contract schema; null/empty corpus texts are
    dropped exactly as the join path's size>0 filter drops them."""
    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, ""), (4, "a b c d")],
        "doc_id long, text string",
    )
    empty = dd.containment_join(
        docs.filter(F.col("doc_id") < 0), docs, threshold=0.8
    )
    assert empty.columns == ["id_a", "id_b", "containment"]
    assert empty.count() == 0
    got = sorted(
        map(
            tuple,
            dd.containment_join(
                docs.filter(F.col("doc_id") == 1), docs, threshold=0.8
            ).collect(),
        )
    )
    assert got == [(1, 4, 1.0)]


def test_containment_few_huge_probe_docs_not_collected(spark, monkeypatch):
    """The broadcast gate sizes the probe with one aggregate BEFORE any
    collect: a few docs whose summed tokens exceed the driver budget run
    the join path, and their token arrays never reach the driver — even
    when their exact vocabulary x docs matrix would fit (the old gate
    collected up to MAX_BROADCAST_PROBE_DOCS + 1 full arrays first). Pairs
    still equal the brute force."""
    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import dedup as dd

    w = [f"w{i}" for i in range(400)]
    docs = spark.createDataFrame(
        [(1, " ".join(w[:300])), (2, " ".join(w[100:])), (3, " ".join(w[:250])),
         (4, "w1 w2")],
        "doc_id long, text string",
    )
    probe = docs.filter(F.col("doc_id") <= 3)
    # 850 probe tokens x 64 driver bytes > the budget; vocab 400 x 3 fits it
    monkeypatch.setattr(dd, "MAX_PROBE_MEMBERSHIP_BYTES", 64 * 800)
    frame_cls = type(docs)
    collect, collected = frame_cls.collect, []

    def spy(self):
        collected.append(self.columns)
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", spy)
    got = sorted(
        map(tuple, dd.containment_join(probe, docs, threshold=0.8).collect())
    )
    assert not [c for c in collected if "__tka" in c], collected
    sets = {i: set(t.split()) for i, t in docs.collect()}
    want = sorted(
        (a, b, round(len(sets[a] & sets[b]) / len(sets[a]), 6))
        for a in (1, 2, 3)
        for b in sets
        if a != b and len(sets[a] & sets[b]) * 10 >= 8 * len(sets[a])
    )
    assert got == want == [(1, 3, 0.833333), (3, 1, 1.0)]


def test_prefix_jaccard_positional_filter_loses_no_pairs(spark):
    """prefix_jaccard_join loses no pair: results equal the all-pairs
    brute force on a dense small-vocabulary corpus (the regime where the
    prefix rule is least selective), including boundary pairs at exactly
    J = t. Named for the r15 PPJoin positional + length prunes it first
    pinned; those were deleted after an A/B showed no wall-time gain
    (OPTIMIZATION_r15.md), and the pin now holds the bare prefix filter."""
    import itertools

    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import dedup as dd

    rng = random.Random(152)
    vocab = [f"w{i}" for i in range(12)]
    data = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 14))))
        for i in range(150)
    ]
    # exact-boundary pairs: J = 9/10 < 0.9? no: need J >= 0.9 edge ->
    # identical sets (J=1.0) and 9-of-10 overlap (J = 9/11 ≈ 0.818 < 0.9);
    # at t = 0.8: |a∩b|=4,|a∪b|=5 -> J=0.8 exactly sits ON the boundary
    data += [(150, "w0 w1 w2 w3 w4"), (151, "w0 w1 w2 w3"),
             (152, "w0 w1 w2 w3 w5")]
    docs = spark.createDataFrame(data, "doc_id long, text string")
    for t in (0.8, 0.9):
        got = sorted(
            map(tuple, dd.prefix_jaccard_join(docs, threshold=t).collect())
        )
        rows = docs.select(
            "doc_id", F.array_distinct(F.split("text", r"\s+")).alias("tk")
        ).collect()
        want = []
        for a, b in itertools.combinations(
            sorted(rows, key=lambda r: r.doc_id), 2
        ):
            sa, sb = set(a.tk), set(b.tk)
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= t:
                want.append((a.doc_id, b.doc_id, round(j, 6)))
        assert got == sorted(want), f"threshold {t}"
        assert len(got) > 0, f"threshold {t} pin is vacuous"


def test_streaming_soak_block_manager_footprint_bounded(spark, tmp_path):
    """r15 soak (VERDICT r14 #7): the foreachBatch legs formerly
    localCheckpoint-ed per-batch frames and relied on Python GC + the
    async ContextCleaner — the production twin of the r14 bench
    contamination bug. 110 micro-batches through the REAL
    neardup_ingest_stream must leave the block manager's persistent-RDD
    ledger bounded (the pipeline's own pins release deterministically;
    operator-internal lazy checkpoints detach via the per-batch gc
    hook). Unbounded growth here is ~5 leaked checkpoint RDDs per batch
    (>500 at 110 batches)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wms_data_pipeline_spark.operators import dedup as dd
    from wms_data_pipeline_spark.streaming.pipeline import neardup_ingest_stream

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(10_000 + i, f"{base} corpus variant {i} with extra tokens {i * 7}")
         for i in range(8)],
        "doc_id long, text string",
    )
    index = "file://" + str(tmp_path / "ndidx")
    dd.neardup_index_write(corpus, index)

    src = tmp_path / "incoming"
    src.mkdir()
    n_batches = 110
    for b in range(n_batches):
        tbl = pa.table(
            {
                "doc_id": pa.array([1_000_000 + b], type=pa.int64()),
                "text": pa.array(
                    [f"{base} corpus variant 3 with extra tokens {b}"],
                    type=pa.string(),
                ),
            }
        )
        pq.write_table(tbl, src / f"b{b:04d}.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = neardup_ingest_stream(
        stream, index, str(tmp_path / "pairs"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(1200), "soak stream did not finish"
    assert q.lastProgress["batchId"] >= n_batches - 1, "fewer batches than files"
    # let the async ContextCleaner drain what the per-batch hygiene queued
    import time

    spark.sparkContext._jvm.System.gc()
    jsc = spark.sparkContext._jsc.sc()
    deadline = time.time() + 30
    n = jsc.getPersistentRDDs().size()
    while n > 25 and time.time() < deadline:
        time.sleep(2)
        spark.sparkContext._jvm.System.gc()
        n = jsc.getPersistentRDDs().size()
    assert n <= 25, (
        f"{n} persistent RDDs after {n_batches} batches — block-manager "
        "footprint is growing with batch count"
    )
    # the soak still computed real pairs (non-vacuous)
    assert spark.read.parquet(str(tmp_path / "pairs")).count() > 0
