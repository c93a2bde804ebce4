"""Deduplication operators for LLM training-data pipelines.

Four tiers, cheapest first:
- **exact** — hash-groupBy on a content hash (one shuffle on the hash).
- **near-dup via MinHash+LSH** — per-doc signatures are map-side
  (array_min over transformed shingle arrays — NO explode/shuffle);
  candidate pairs come from a self-join on (band, band_hash) buckets; exact
  Jaccard verifies candidates. This is the 100 TB path: the only shuffle is
  on band buckets, and the quadratic blow-up is confined to same-bucket
  groups.
- **SimHash** — 64-bit bitwise-majority fingerprint; hamming-close docs are
  near-dups. Map-side signature, bucket by simhash prefix for candidates.
- **exact n-gram Jaccard** — the verifier (and a standalone all-pairs op for
  bounded subsets).

Hashes use the cross-engine ``hex64(md5(...))`` convention (operators/text.py)
so DuckDB oracles reproduce results bit-for-bit. Salted per-permutation
hashing (``md5(i || ':' || shingle)``) replaces the classic (a*h+b) mod p
permutation family — same independence argument, no overflow, one expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wms_data_pipeline_spark.operators.text import tokens_of

DEFAULT_NUM_PERM = 16
DEFAULT_BANDS = 4  # rows per band = NUM_PERM / BANDS

#: keep-canonical's drop-list anti join broadcast-hints the minhash-pair
#: subtree (ids only) — the measured 5 -> 2 exchange win (SCALE_NOTES
#: r12). The hint is safe while the DUP COUNT stays broadcast-sized, and
#: that is a property of the corpus nothing used to enforce (ADVICE r12):
#: callers gate it as ``n_docs * EXPECTED_DUP_FRACTION <=
#: MAX_BROADCAST_DROP_IDS`` — a metadata-cheap count times a deployment
#: expectation — and fall back to the un-hinted join (AQE picks SMJ or
#: broadcast from RUNTIME sizes) when the expectation says the list may
#: outgrow an executor. 50M ids ~ 400 MB hashed relation; 0.25 is the
#: upper end of published web-corpus near-dup fractions.
MAX_BROADCAST_DROP_IDS = 50_000_000
EXPECTED_DUP_FRACTION = 0.25

#: containment_join collects the probe side into a broadcast scoring
#: closure when it is delta-sized (the operator's documented use case —
#: "the probe side should be the small/delta side"): one corpus scan,
#: ZERO pair shuffles. Same contract class as similarity's
#: MAX_CLOSURE_QUERIES guard. Above either gate the generic
#: prefix-filter join runs unchanged (the 100 TB any-sized-probe path).
#: Measured 7.77 -> 1.92 s median on dd_containment_pairs at sf0.1, 10 of
#: 10 interleaved pairs; sizing the probe before its collect adds ~0.3 s
#: (OPTIMIZATION_r15.md).
MAX_BROADCAST_PROBE_DOCS = 4096
#: bound on the probe-vocabulary × probe-docs membership matrix each
#: task holds (uint8 cells): 256 MB keeps the closure broadcastable and
#: the per-task footprint bounded even for token-heavy probes. The same
#: budget bounds the driver-side collect before it runs, at 64 bytes per
#: probe token (a short ``str`` in a row list and a set): 4M tokens.
MAX_PROBE_MEMBERSHIP_BYTES = 1 << 28


def broadcast_drop_list_ok(n_docs: int) -> bool:
    """Whether a keep-canonical drop list over ``n_docs`` documents is
    expected to fit a broadcast (see MAX_BROADCAST_DROP_IDS)."""
    return n_docs * EXPECTED_DUP_FRACTION <= MAX_BROADCAST_DROP_IDS


def shingles_of(colname: str = "text", n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles as an array, map-side — distinct per doc by
    default (set semantics for MinHash/Jaccard); ``distinct=False`` keeps
    every occurrence (multiplicity semantics for frequency sketches).

    Built as ``arrays_zip`` of n shifted slices rather than indexed
    ``element_at`` inside the transform lambda — the lambda body would
    re-inline the regexp tokenization PER ELEMENT (n regex scans per
    shingle; ~150× per doc), where the zip form evaluates it n+1 times per
    row. The ``when`` guard keeps short docs at an empty array (and keeps
    the negative-length slice unevaluated under ANSI mode)."""
    toks = tokens_of(colname)
    cnt = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(n)])
    grams = F.transform(
        zipped, lambda x: F.concat_ws(" ", *[x[str(i)] for i in range(n)])
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


MERSENNE31 = 2_147_483_647  # 2^31 - 1: the universal-hash modulus


def perm_coeffs(num_perm: int = DEFAULT_NUM_PERM) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients per MinHash permutation, md5-seeded
    driver-side so Spark and the DuckDB oracle inline the SAME literals:
    ``perm_p(h) = (a_p * h + b_p) mod (2^31 - 1)``, a in [1, M-1], b in
    [0, M-1]."""
    import hashlib

    out = []
    for p in range(num_perm):
        ha = int(hashlib.md5(f"minhash-a:{p}".encode()).hexdigest()[:15], 16)
        hb = int(hashlib.md5(f"minhash-b:{p}".encode()).hexdigest()[:15], 16)
        out.append((ha % (MERSENNE31 - 1) + 1, hb % MERSENNE31))
    return out


def minhash_col(shingle_hashes: Column, perm: int) -> Column:
    """One MinHash permutation: min over pre-hashed shingles of the
    universal hash ``(a*h + b) mod M``. The base hash is computed ONCE per
    shingle (``with_minhash_signature``); permutations are integer
    arithmetic only — the classic one-hash/many-permutations scheme, 16×
    fewer md5 evaluations than hashing per (perm, shingle).

    No overflow under ANSI mode: a, h < 2^31 so a*h + b < 2^62 < 2^63-1.
    """
    a, b = perm_coeffs(perm + 1)[perm]
    return F.array_min(
        F.transform(
            shingle_hashes,
            lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE31),
        )
    )


def shingle_hash_col(shingles: Column, hash_family: str = "md5") -> Column:
    """Base hash per shingle, folded into [0, 2^31-2] for the
    universal-hash permutations.

    ``hash_family="md5"`` (default) is the cross-engine convention — the
    identical expression exists in the DuckDB oracles, so results are
    bit-reproducible across engines. ``"xxhash64"`` is the production
    profile: Spark's native codegen intrinsic, MEASURED 1.79× faster for
    the whole signature stage at the 640k-doc stress scale (34.5 s →
    19.3 s, SCALE_NOTES "Known trade-offs"; A/B with tools/ab.py), with no
    cross-engine reproducibility claim (signatures differ from the md5
    family but near-dup detection quality is equivalent — pair-set
    Jaccard 0.996 on the same corpus, and the permutation layer only
    needs a uniform base hash; recall
    equivalence is pinned by test_hash_family_pair_recall_equivalent)."""
    if hash_family == "md5":
        return F.transform(
            shingles,
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
            % F.lit(MERSENNE31),
        )
    if hash_family == "xxhash64":
        return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE31)))
    raise ValueError(f"unknown hash_family {hash_family!r}")


def with_minhash_signature(
    df: DataFrame,
    colname: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    shingle_n: int = 3,
    keep_shingles: bool = False,
    drop_source: bool = False,
    hash_family: str = "md5",
) -> DataFrame:
    """Append ``mh_0 … mh_{num_perm-1}`` minhash columns. No explode and no
    key shuffle; at 100 TB this is a pure map stage.

    Two deliberate physical choices for a CPU-bound expression stage:
    - repartition a small input (one row group → one task would pin the
      whole stage to a single core; at real scale the scan already has
      thousands of splits and this collapses to a no-op);
    - hash each shingle ONCE (``__sh_hash``) and derive all ``num_perm``
      permutations with integer arithmetic — md5 cost is per shingle, not
      per (shingle × perm). The Arrow kernel below is ``__sh_hash``'s
      single consumer, so no checkpoint fence is needed to keep md5 at
      one eval per shingle (the fence dated from the 16-HOF-column form,
      where CollapseProject would have inlined the md5 transform into
      every min-column; removing the now-redundant materialization of
      the shingle+hash arrays cut the sf0.1 signature stage 0.84→0.70 s
      bit-identically — r14, guide §1.2: don't materialize what has one
      consumer). Callers that reuse the signature frame all hold their
      own ``localCheckpoint``.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    shingles = shingles_of(colname, shingle_n)
    # one select: __sh_hash inlines the shingle build (2 evals per row,
    # cheap) — md5 stays one eval per shingle via the single Arrow consumer.
    out = df.withColumn("__shingles", shingles).withColumn(
        "__sh_hash", shingle_hash_col(shingles, hash_family)
    )
    if drop_source:
        # the source text is dead weight for pure signature/pair
        # pipelines (callers' checkpoints would otherwise materialize it;
        # stress.py: checkpoint heap is the binding resource at 100×)
        out = out.drop(colname)

    # All num_perm permutations in ONE Arrow-batched numpy kernel instead of
    # num_perm array_min(transform(...)) columns: higher-order-function
    # lambdas are interpreted per element outside whole-stage codegen, and
    # at 16 perms × ~50 shingles/doc that interpretive dispatch was ~70% of
    # the signature stage (same lesson as similarity.lsh_bucket). The
    # arithmetic is exact int64 ((a*h+b) < 2^62), so signatures are
    # bit-identical to the HOF form and the DuckDB oracle.
    coeffs = perm_coeffs(num_perm)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)

    @pandas_udf("array<bigint>")
    def _sig(hashes: pd.Series) -> pd.Series:
        res: list = []
        for v in hashes:
            if v is None or len(v) == 0:
                # array_min over an empty/null transform is null per perm
                res.append(None)
            else:
                h = np.asarray(v, dtype=np.int64)[:, None]
                res.append(((h * A[None, :] + B[None, :]) % MERSENNE31).min(axis=0))
        return pd.Series(res)

    out = out.withColumn("__mh_sig", _sig(F.col("__sh_hash")))
    for p in range(num_perm):
        out = out.withColumn(f"mh_{p}", F.element_at(F.col("__mh_sig"), p + 1))
    out = out.drop("__sh_hash", "__mh_sig")
    return out if keep_shingles else out.drop("__shingles")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two array-set columns (arrays assumed distinct)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    colname: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_family: str = "md5",
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, Jaccard-verified.
    ``hash_family``: see ``shingle_hash_col`` — "md5" (oracle-reproducible
    default) or "xxhash64" (production profile, measured 1.79× faster
    signature stage at 640k docs;
    the Jaccard verification makes the final pair set insensitive to the
    family except at the LSH candidate-recall margin).

    Plan shape: map (signatures) → explode ``bands`` (band, band_hash) rows
    per doc — ids and hashes ONLY, the shingle arrays stay out of the band
    shuffle (they would dominate shuffle bytes by the bands × shingle-size
    factor at 100 TB) → self-join within buckets → distinct candidate
    id-pairs → join back to the checkpointed signature table by id to fetch
    both shingle sets → verify with exact Jaccard. Output:
    (id_a, id_b, jaccard_sim) with id_a < id_b, sim >= threshold.
    """
    # Materialize the signature stage: downstream references it 3× (band
    # buckets, both join sides of the verify). At cluster scale this is a
    # persisted/checkpointed intermediate table; localCheckpoint is the
    # single-node equivalent.
    sig = with_minhash_signature(
        df.select(id_col, colname), colname, num_perm, shingle_n,
        keep_shingles=True, drop_source=True, hash_family=hash_family,
    ).localCheckpoint(eager=False)
    bucketed = _band_rows(sig, id_col, num_perm, bands)

    a = bucketed.select(F.col(id_col).alias("id_a"), "band", "bhash")
    b = bucketed.select(F.col(id_col).alias("id_b"), "band", "bhash")
    pairs = (
        a.join(b, on=["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    shing = sig.select(F.col(id_col), F.col("__shingles"))
    verified = (
        pairs.join(shing.select(F.col(id_col).alias("id_a"),
                                F.col("__shingles").alias("__sh_a")), "id_a")
        .join(shing.select(F.col(id_col).alias("id_b"),
                           F.col("__shingles").alias("__sh_b")), "id_b")
    )
    return (
        verified.withColumn(
            "jaccard_sim", F.round(jaccard(F.col("__sh_a"), F.col("__sh_b")), 6)
        )
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def neardup_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    colname: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    hash_family: str = "md5",
    bhash_prefix_len: int = 2,
    id_buckets: int = 64,
) -> None:
    """Persist a near-dup index so a daily delta dedups against the corpus
    WITHOUT recomputing corpus signatures (VERDICT r5 #6 — the same story
    ``ivf_index_write`` tells for vectors). Three Spark-written datasets
    under ``path`` (any Hadoop filesystem):

    - ``bands``: (id, bhash) partitioned by ``(band, bp)`` where ``bp`` is
      the first ``bhash_prefix_len`` hex chars of the band hash — bands ×
      16^len directories. A delta probe reads ONLY the partitions its own
      band hashes fall in (partition pruning at plan time). Honest sizing
      note (measured, SCALE_NOTES r6): the pruning matters for SMALL
      deltas only — a few thousand delta docs already cover all 16^2
      prefixes — so the probe's scaling win comes chiefly from never
      recomputing corpus SIGNATURES (the probe is flat ~13 s where the
      full recompute grows 22→48 s from a 160k→640k corpus).
    - ``shingles``: (id, shingles) partitioned by ``sb = pmod(xxhash64(id),
      id_buckets)`` — the Jaccard verifier fetches only the id-buckets
      that candidate pairs actually hit.
    - ``meta``: one row pinning the signature geometry (num_perm, bands,
      shingle_n, hash_family, prefix/bucket sizes) so the search path
      self-configures; a delta probed with different geometry would
      silently miss pairs.

    Build cost is one signature pass over the corpus — paid once, amortized
    over every delta; at 100 TB this is the nightly index job."""
    sig = with_minhash_signature(
        df.select(id_col, colname), colname, num_perm, shingle_n,
        keep_shingles=True, drop_source=True, hash_family=hash_family,
    ).localCheckpoint(eager=False)
    base = path.rstrip("/")
    band_rows = _band_rows(sig, id_col, num_perm, bands)
    # repartition ON the partition columns before partitionBy: without it
    # every one of the shuffle partitions writes its own file into every
    # (band, bp) directory — bands × 16^len × partitions tiny files (~65k
    # measured at 160k docs, 209 s build dominated by file creation).
    # With it: one file per directory, build bounded by data, not files.
    # "x" sentinel prefix: a small index whose written bp values happen to
    # be digit-only hex would get bp INFERRED as INT on read, after which
    # the probe's string isin() misses leading-zero prefixes ("07" vs 7) —
    # silently dropping pairs. A letter head pins partition-type inference
    # to string forever.
    band_rows.withColumn(
        "bp", F.concat(F.lit("x"), F.substring(F.col("bhash"), 1, bhash_prefix_len))
    ).repartition("band", "bp").write.mode("overwrite").partitionBy(
        "band", "bp"
    ).parquet(base + "/bands")
    sig.select(
        id_col,
        F.col("__shingles").alias("shingles"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(id_buckets)).alias("sb"),
    ).repartition("sb").write.mode("overwrite").partitionBy("sb").parquet(
        base + "/shingles"
    )
    df.sparkSession.createDataFrame(
        [(num_perm, bands, shingle_n, hash_family, bhash_prefix_len, id_buckets)],
        schema="num_perm int, bands int, shingle_n int, hash_family string, "
        "bhash_prefix_len int, id_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(base + "/meta")


def neardup_index_append(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    colname: str = "text",
) -> None:
    """Append a delta's signatures into a persisted near-dup index — the
    ingest half of dedup-on-ingest: PROBE first (``neardup_incremental``),
    then append, so the next delta dedups against this one too. Signature
    geometry comes from the index's own meta dataset (a delta appended
    with different geometry would silently corrupt the band space — the
    same reason the probe self-configures from meta). Cost scales with
    the delta: one signature pass, then appends landing only in the
    delta's (band, bp) / (sb) partition directories; existing files are
    never touched. Same new-ids contract as the probe."""
    spark = df.sparkSession
    base = path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    sig = with_minhash_signature(
        df.select(id_col, colname), colname, meta.num_perm, meta.shingle_n,
        keep_shingles=True, drop_source=True, hash_family=meta.hash_family,
    ).localCheckpoint(eager=False)
    band_rows = _band_rows(sig, id_col, meta.num_perm, meta.bands)
    band_rows.withColumn(
        "bp",
        F.concat(F.lit("x"), F.substring(F.col("bhash"), 1, meta.bhash_prefix_len)),
    ).repartition("band", "bp").write.mode("append").partitionBy(
        "band", "bp"
    ).parquet(base + "/bands")
    sig.select(
        id_col,
        F.col("__shingles").alias("shingles"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(meta.id_buckets)).alias("sb"),
    ).repartition("sb").write.mode("append").partitionBy("sb").parquet(
        base + "/shingles"
    )


def _band_rows(
    sig: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, band, bhash) rows from a signature table — the same banding
    expression ``minhash_neardup_pairs`` inlines, factored so the persisted
    index and the delta probe are banded identically."""
    rows_per_band = num_perm // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.sha2(
                F.concat_ws(
                    "_", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ),
                256,
            ).alias("bhash"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))


def _probe_partition_pred(probes) -> Column:
    """OR-of-conjunctions over the index's (band, bp) PARTITION columns from
    the delta's probe rows. Both columns are partition keys, so Catalyst
    turns this into PartitionFilters — only the probed directories are
    listed/read (pinned by test_neardup_incremental_prunes_index_partitions)."""
    pred = None
    for band in sorted({r.band for r in probes}):
        bps = sorted({r.bp for r in probes if r.band == band})
        leg = (F.col("band") == band) & F.col("bp").isin(bps)
        pred = leg if pred is None else (pred | leg)
    return pred if pred is not None else F.lit(False)


def neardup_incremental(
    spark,
    new_docs: DataFrame,
    index_path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    colname: str = "text",
) -> DataFrame:
    """Near-dup pairs INVOLVING the delta: delta×corpus (via the persisted
    index) plus delta×delta, Jaccard-verified at ``threshold``. Output
    (id_a, id_b, jaccard_sim) with id_a < id_b — exactly the pairs a full
    ``minhash_neardup_pairs`` over corpus ∪ delta would emit that touch a
    delta doc (the band scheme is identical, so candidate recall is too).

    Cost scales with the DELTA, never the corpus:
    - delta signatures: one map pass over the delta;
    - index probe: the bands read is partition-pruned to the delta's
      (band, prefix) values — two bounded driver collects (≤ bands×16^len
      prefix values, ≤ id_buckets shingle buckets) steer the pruning, the
      corpus band table is never scanned whole;
    - verification: the shingles read is pruned to the id-buckets of the
      corpus ids that actually collided.

    Assumes delta ids are disjoint from corpus ids (re-ingesting an id is
    an upsert problem for the merge operators, not dedup)."""
    base = index_path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    sig = with_minhash_signature(
        new_docs.select(id_col, colname), colname, meta.num_perm,
        meta.shingle_n, keep_shingles=True, drop_source=True,
        hash_family=meta.hash_family,
    ).localCheckpoint(eager=False)
    delta_bands = _band_rows(sig, id_col, meta.num_perm, meta.bands).withColumn(
        "bp",
        F.concat(F.lit("x"), F.substring(F.col("bhash"), 1, meta.bhash_prefix_len)),
    ).localCheckpoint(eager=False)

    # bounded control-plane collect #1: the delta's (band, prefix) set —
    # ≤ bands × 16^prefix_len values — becomes the partition filter on the
    # index read. OR-of-conjunctions over partition columns prunes at plan
    # time (PartitionFilters), so only those directories are listed/read.
    probes = delta_bands.select("band", "bp").distinct().collect()
    if not probes:
        id_type = new_docs.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], schema=f"id_a {id_type}, id_b {id_type}, jaccard_sim double"
        )
    idx_bands = spark.read.parquet(base + "/bands").filter(
        _probe_partition_pred(probes)
    )

    d_probe = delta_bands.select(
        F.col(id_col).alias("id_b"), "band", "bhash"
    )
    cross = (
        idx_bands.select(F.col(id_col).alias("id_a"), "band", "bhash")
        .join(F.broadcast(d_probe), ["band", "bhash"])
        .select("id_a", "id_b")
    )
    a = delta_bands.select(F.col(id_col).alias("id_a"), "band", "bhash")
    within = (
        a.join(d_probe, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # normalize id_a < id_b across both legs, then one distinct
    cand = (
        cross.union(within)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        # the id_a != id_b guard matters under REPLAY: a streaming batch
        # re-probed after its own index append (crash before the
        # checkpoint commit) finds its ids in the index, and the cross
        # leg's least/greatest would emit (x, x) self-pairs with
        # jaccard 1.0 — neardup_ingest_stream's at-least-once contract
        # relies on this being filtered here
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint(eager=False)
    )

    # bounded control-plane collect #2: the candidate CORPUS ids' shingle
    # buckets (≤ id_buckets ints) prune the verification read the same way.
    # Corpus ids can sit in EITHER column after the least/greatest
    # normalization, so gather non-delta ids from both.
    delta_ids = sig.select(F.col(id_col))
    cand_ids = cand.select(F.col("id_a").alias(id_col)).union(
        cand.select(F.col("id_b").alias(id_col))
    )
    corpus_side = cand_ids.join(delta_ids, id_col, "left_anti").select(
        F.col(id_col).alias("cid")
    )
    sbs = sorted(
        r.sb
        for r in corpus_side.select(
            F.pmod(F.xxhash64(F.col("cid").cast("string")), F.lit(meta.id_buckets)).alias("sb")
        ).distinct().collect()
    )
    delta_sh = sig.select(F.col(id_col), F.col("__shingles").alias("shingles"))
    if sbs:
        idx_sh = spark.read.parquet(base + "/shingles").filter(
            F.col("sb").isin(sbs)
        ).select(id_col, "shingles")
        all_sh = delta_sh.unionByName(idx_sh)
    else:
        all_sh = delta_sh
    # one row per id, whatever the index holds: a batch REPLAYED after its
    # own index append (crash between append and checkpoint commit) leaves
    # duplicate persisted shingle rows for its ids — without this dedup
    # those rows fan out the verify join and every affected pair is
    # emitted multiple times, forever. Shingle rows for a given id are
    # content-identical (same doc → same shingles), so which row survives
    # is immaterial; the shuffle is bounded by the pruned candidate set.
    all_sh = all_sh.dropDuplicates([id_col])
    verified = (
        cand.join(
            all_sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("__sh_a")),
            "id_a",
        )
        .join(
            all_sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("__sh_b")),
            "id_b",
        )
    )
    return (
        verified.withColumn(
            "jaccard_sim", F.round(jaccard(F.col("__sh_a"), F.col("__sh_b")), 6)
        )
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def _pairs_from_sorted_sets(
    df: DataFrame, arr_col: str, weight: int
) -> DataFrame:
    """All i < j ordered pairs from a SORTED string array, emitted
    map-side (the r11 overlap lesson: never re-join a stream to itself
    when the pair space is generated from a grouped set). Output
    (source_a, source_b, w) with source_a < source_b lexicographically
    — the ordering the sorted array gives for free."""
    return (
        df.select(
            F.posexplode(arr_col).alias("_i", "source_a"), F.col(arr_col)
        )
        .select(
            "source_a",
            F.explode(
                F.expr(f"slice({arr_col}, _i + 2, size({arr_col}))")
            ).alias("source_b"),
        )
        .select(
            "source_a", "source_b", F.lit(weight).cast("long").alias("w")
        )
    )


def source_overlap_index_write(
    df: DataFrame,
    path: str,
    source_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 4,
    max_sources: int = 256,
    shingle_buckets: int = 64,
) -> None:
    """Persist the cross-source contamination index so a daily delta
    updates the overlap matrix WITHOUT re-shingling the corpus (VERDICT
    r11 #4 — the matrix was the last full-recompute audit; same
    nightly-index + daily-probe story as ``neardup_index_write``). Four
    Spark-written datasets under ``path`` (any Hadoop filesystem):

    - ``shingle_sets``: (g, n_srcs, srcs) partitioned by ``gb =
      pmod(xxhash64(g), shingle_buckets)`` — the per-shingle SORTED
      distinct source array, the matrix's sufficient statistic. For
      shingles over the ``max_sources`` df-cut the array is stored NULL
      (only ``n_srcs`` matters: sources are only ever ADDED, so an
      over-cut shingle can never come back under — the probe just needs
      to know to skip it). A delta probe reads only the ``gb`` buckets
      its own shingles hash into.
    - ``pairs``: the matrix pair counts (source_a, source_b, n_shared)
      over kept shingles — matrix-sized (≤ C(|sources|, 2) rows).
    - ``totals``: per-source kept-shingle counts (source, n).
    - ``meta``: one row pinning (shingle_n, max_sources,
      shingle_buckets) so the probe self-configures; a delta probed
      with different geometry would silently corrupt the matrix.

    Build cost is the batch matrix itself plus the shingle_sets write —
    paid once, amortized over every delta."""
    base = path.rstrip("/")
    by_sh = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(shingles_of(text_col, shingle_n)).alias("g"),
        )
        .distinct()
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .localCheckpoint()  # referenced 3x: sets write, pairs, totals
    )
    (
        by_sh.select(
            "g",
            F.size("srcs").alias("n_srcs"),
            F.when(
                F.size("srcs") <= max_sources, F.col("srcs")
            ).alias("srcs"),
            F.pmod(F.xxhash64("g"), F.lit(shingle_buckets)).alias("gb"),
        )
        # repartition ON the partition column before partitionBy — one
        # file per directory, not shuffle-partitions × buckets tiny files
        # (the neardup_index_write lesson)
        .repartition("gb")
        .write.mode("overwrite")
        .partitionBy("gb")
        .parquet(base + "/shingle_sets")
    )
    kept = by_sh.filter(F.size("srcs") <= max_sources)
    (
        _pairs_from_sorted_sets(kept, "srcs", 1)
        .groupBy("source_a", "source_b")
        .agg(F.sum("w").alias("n_shared"))
        .write.mode("overwrite")
        .parquet(base + "/pairs")
    )
    (
        kept.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(base + "/totals")
    )
    df.sparkSession.createDataFrame(
        [(shingle_n, max_sources, shingle_buckets)],
        schema="shingle_n int, max_sources int, shingle_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(base + "/meta")


def _overlap_touched(
    spark, delta_df, base: str, meta, source_col: str, text_col: str
):
    """Shared delta-side computation for the overlap probe/update: the
    delta's per-shingle sorted source sets, left-joined against the
    partition-pruned index, filtered to shingles that actually CHANGE.
    Returns (gbs, touched_or_None); touched carries (g, gb, old_n, old,
    dsrcs, newonly, crosses) and is checkpointed once — it feeds four
    delta legs in the probe and additionally the set rewrite in the
    update."""
    dsets = (
        delta_df.select(
            F.col(source_col).alias("source"),
            F.explode(shingles_of(text_col, meta.shingle_n)).alias("g"),
        )
        .distinct()
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("dsrcs"))
        .withColumn(
            "gb", F.pmod(F.xxhash64("g"), F.lit(meta.shingle_buckets))
        )
        .localCheckpoint(eager=False)
    )
    # bounded control-plane collect: the delta's shingle buckets
    # (≤ shingle_buckets ints) become the index partition filter
    gbs = sorted(r.gb for r in dsets.select("gb").distinct().collect())
    if not gbs:
        return [], None
    idx_sets = (
        spark.read.parquet(base + "/shingle_sets")
        .filter(F.col("gb").isin(gbs))
        .select("g", "n_srcs", "srcs")
    )
    # r13 (measured in the fixed-batch/10x-corpus study): the delta-side
    # LEFT join cannot broadcast its small PRESERVED side, so the planner
    # was SMJ-shuffling the corpus postings — probe cost grew 1.55x at
    # 10x corpus. Semi-reduce the index to the delta's own shingles
    # map-side first (broadcast the delta's shingle keys into the
    # postings scan — nothing corpus-sized ever shuffles), then broadcast
    # the REDUCED postings into the left join: bounded by |delta
    # shingles| rows x the df-cut source arrays, delta-sized by
    # construction. Re-measured FLAT: 1.84 -> 1.58 s at 10x corpus
    # (was 1.86 -> 2.87 s).
    idx_hits = idx_sets.join(F.broadcast(dsets.select("g")), "g")
    touched = (
        dsets.join(F.broadcast(idx_hits), "g", "left")
        .select(
            "g",
            "gb",
            F.coalesce(F.col("n_srcs"), F.lit(0)).alias("old_n"),
            F.coalesce(
                F.col("srcs"), F.array().cast("array<string>")
            ).alias("old"),
            "dsrcs",
        )
        # over-cut shingles never come back under (sources only get
        # added) — skip before touching the NULL-stored array
        .filter(F.col("old_n") <= meta.max_sources)
        .withColumn("newonly", F.array_except("dsrcs", "old"))
        .filter(F.size("newonly") > 0)
        .withColumn(
            "crosses",
            (F.col("old_n") + F.size("newonly")) > meta.max_sources,
        )
        .localCheckpoint(eager=False)
    )
    return gbs, touched


def _overlap_delta_legs(touched):
    """Map-side pair/total DELTA legs from a ``_overlap_touched`` frame:
    additions old×new + C(new, 2) for shingles staying under the df-cut,
    retractions C(old, 2) for shingles the delta pushes over it."""
    if touched is None:
        return [], []
    under = touched.filter(~F.col("crosses"))
    crossed = touched.filter(F.col("crosses"))
    pair_legs = [
        _pairs_from_sorted_sets(under, "newonly", 1),
        under.select(F.explode("old").alias("x"), "newonly")
        .select("x", F.explode("newonly").alias("y"))
        .select(
            F.least("x", "y").alias("source_a"),
            F.greatest("x", "y").alias("source_b"),
            F.lit(1).cast("long").alias("w"),
        ),
        _pairs_from_sorted_sets(
            crossed.filter(F.size("old") >= 2), "old", -1
        ),
    ]
    tot_legs = [
        under.select(
            F.explode("newonly").alias("source"),
            F.lit(1).cast("long").alias("w"),
        ),
        crossed.select(
            F.explode("old").alias("source"),
            F.lit(-1).cast("long").alias("w"),
        ),
    ]
    return pair_legs, tot_legs


def source_overlap_index_update(
    spark,
    delta_df: DataFrame,
    index_path: str,
    source_col: str = "source",
    text_col: str = "text",
) -> None:
    """Fold a delta INTO the persisted overlap index — the ingest half of
    the contamination monitor (probe first, then update, exactly the
    ``neardup_incremental`` → ``neardup_index_append`` discipline): after
    this, the next ``source_overlap_probe`` sees corpus ∪ delta. Three
    writes, all delta/matrix-bounded:

    - ``shingle_sets``: only the delta's hash-bucket partitions rewrite
      (dynamic partition overwrite) — untouched buckets' files are never
      read or written; updated rows carry the merged sorted source
      arrays (NULL once a set crosses the df-cut, which is permanent);
    - ``pairs`` / ``totals``: the merged matrix-sized counts, recomputed
      exactly as the probe merges them and republished whole.

    IDEMPOTENT by construction: re-applying the same delta finds every
    one of its (source, shingle) rows already present, the changed-set
    filter drops everything, and all three datasets rewrite to their
    current contents — so a crashed-and-retried ingest converges
    (pinned in test_round12_ops). NOT crash-ATOMIC across the three
    writes (no version pointer here): single-writer discipline is
    assumed, and a crash mid-update is repaired by re-running the same
    update (idempotence) or the nightly rebuild. Readers racing an
    update can see a torn matrix — acceptable for a monitoring index,
    documented the same way as the neardup index's at-least-once
    append."""
    base = index_path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    gbs, touched = _overlap_touched(
        spark, delta_df, base, meta, source_col, text_col
    )
    if touched is None:
        return
    from functools import reduce

    pair_legs, tot_legs = _overlap_delta_legs(touched)
    stored_pairs = spark.read.parquet(base + "/pairs").select(
        "source_a", "source_b", F.col("n_shared").cast("long").alias("w")
    )
    stored_tot = spark.read.parquet(base + "/totals").select(
        "source", F.col("n").cast("long").alias("w")
    )
    # materialize BEFORE overwriting the files they read from
    merged_pairs = (
        reduce(DataFrame.unionByName, [stored_pairs] + pair_legs)
        .groupBy("source_a", "source_b")
        .agg(F.sum("w").alias("n_shared"))
        .filter(F.col("n_shared") > 0)
        .localCheckpoint()
    )
    merged_tot = (
        reduce(DataFrame.unionByName, [stored_tot] + tot_legs)
        .groupBy("source")
        .agg(F.sum("w").alias("n"))
        .filter(F.col("n") > 0)
        .localCheckpoint()
    )
    n_new = F.col("old_n") + F.size("newonly")
    updates = touched.select(
        "g",
        n_new.alias("n_srcs"),
        F.when(
            n_new <= meta.max_sources,
            F.sort_array(F.concat(F.col("old"), F.col("newonly"))),
        ).alias("srcs"),
        "gb",
    )
    existing = spark.read.parquet(base + "/shingle_sets").filter(
        F.col("gb").isin(gbs)
    ).select("g", "n_srcs", "srcs", "gb")
    bucket_rows = (
        existing.join(updates.select("g"), "g", "left_anti")
        .unionByName(updates)
        .localCheckpoint()
    )
    (
        bucket_rows.repartition("gb")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("gb")
        .parquet(base + "/shingle_sets")
    )
    merged_pairs.write.mode("overwrite").parquet(base + "/pairs")
    merged_tot.write.mode("overwrite").parquet(base + "/totals")


def source_overlap_probe(
    spark,
    delta_df: DataFrame,
    index_path: str,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The UPDATED contamination matrix of corpus ∪ delta, computed from
    a persisted ``source_overlap_index_write`` index and the delta alone
    — bit-identical to the batch ``dd_source_overlap_matrix`` over the
    combined corpus (pinned in test_round12_ops), at a cost that scales
    with the DELTA, never the corpus:

    - delta shingling: one map pass over the delta;
    - index lookups: the shingle_sets read is partition-pruned to the
      delta's ``gb`` buckets (one bounded driver collect ≤
      shingle_buckets ints), and only TOUCHED shingles join;
    - matrix merge: per-shingle pair DELTAS emit map-side from the
      old/new sorted arrays — a shingle with old set O gaining new
      sources N contributes O×N + C(N,2) new pairs; a shingle the delta
      pushes OVER the df-cut retracts its C(O,2) old pairs (the batch
      recompute would drop it wholesale, so the probe must too) — then
      one matrix-sized merge with the stored pair/total counts.

    Totals and containment are recomputed from the merged counts, so
    pairs whose shared count retracts to zero disappear exactly as the
    batch would drop them."""
    base = index_path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    stored_pairs = spark.read.parquet(base + "/pairs").select(
        "source_a", "source_b", F.col("n_shared").cast("long").alias("w")
    )
    stored_tot = spark.read.parquet(base + "/totals").select(
        "source", F.col("n").cast("long").alias("w")
    )
    _gbs, touched = _overlap_touched(
        spark, delta_df, base, meta, source_col, text_col
    )
    pair_legs, tot_legs = _overlap_delta_legs(touched)
    pair_w = [stored_pairs] + pair_legs
    tot_w = [stored_tot] + tot_legs
    from functools import reduce

    merged_pairs = (
        reduce(DataFrame.unionByName, pair_w)
        .groupBy("source_a", "source_b")
        .agg(F.sum("w").alias("n_shared"))
        .filter(F.col("n_shared") > 0)
    )
    merged_tot = (
        reduce(DataFrame.unionByName, tot_w)
        .groupBy("source")
        .agg(F.sum("w").alias("n"))
        .filter(F.col("n") > 0)
    )
    ta = F.broadcast(
        merged_tot.select(
            F.col("source").alias("source_a"),
            F.col("n").alias("n_shingles_a"),
        )
    )
    tb = F.broadcast(
        merged_tot.select(
            F.col("source").alias("source_b"),
            F.col("n").alias("n_shingles_b"),
        )
    )
    return (
        merged_pairs.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_shingles_a",
            "n_shingles_b",
            F.round(
                F.col("n_shared") / F.least("n_shingles_a", "n_shingles_b"),
                6,
            ).alias("containment"),
        )
    )


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """SimHash from a pre-hashed token array: bit j is the sign of the sum
    over token hashes of (2*bit_j(h) - 1). Integer arithmetic only — pair
    with a checkpoint fence on the hash array (``with_simhash``) so md5
    runs once per token, not once per (token, bit)."""

    def _merge(mask: int):
        # closure factory, NOT a default arg (HOF arity is derived from the
        # lambda signature)
        return lambda s, h: s + F.when(
            h.bitwiseAND(F.lit(mask)) != F.lit(0), F.lit(1).cast("long")
        ).otherwise(F.lit(-1).cast("long"))

    acc = None
    for j in range(bits):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("long"), _merge(1 << j))
        term = F.when(bit_sum > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        acc = term if acc is None else acc + term
    return acc


def with_simhash(
    df: DataFrame,
    colname: str = "text",
    bits: int = 16,
    out: str = "simhash",
    hash_family: str = "md5",
) -> DataFrame:
    """Append a SimHash column, hashing each token ONCE: the 60-bit md5
    token hashes materialize behind a checkpoint fence, then the ``bits``
    per-bit majority aggregates run as integer expressions over the hashed
    array (CollapseProject would otherwise re-inline the md5 transform into
    every bit's aggregate — ``bits``× the hash cost)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    if hash_family == "md5":
        tok_hash = F.transform(
            tokens_of(colname),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"),
        )
    elif hash_family == "xxhash64":
        # production profile (see shingle_hash_col); fold to non-negative so
        # every sketch bit position carries signal like the 60-bit md5 slice
        tok_hash = F.transform(
            tokens_of(colname),
            lambda t: F.shiftrightunsigned(F.xxhash64(t), 4),
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    hashed = df.withColumn("__tok_hash", tok_hash).localCheckpoint(eager=False)

    # Per-bit majority in ONE Arrow-batched integer kernel rather than
    # ``bits`` aggregate() HOFs (interpreted per token per bit — the same
    # dispatch overhead as the minhash permutations above). Integer-only
    # math: identical results to simhash_from_hashes, which remains the
    # expression-context twin.
    shift = np.arange(bits, dtype=np.int64)

    @pandas_udf("bigint")
    def _simhash(tok_hashes: pd.Series) -> pd.Series:
        res = np.zeros(len(tok_hashes), dtype=np.int64)
        for i, v in enumerate(tok_hashes):
            if v is None or len(v) == 0:
                continue  # empty/null token array → simhash 0 (HOF contract)
            h = np.asarray(v, dtype=np.int64)
            ones = ((h[:, None] >> shift) & 1).sum(axis=0)
            res[i] = int(((2 * ones > len(h)).astype(np.int64) << shift).sum())
        return pd.Series(res)

    return hashed.withColumn(out, _simhash(F.col("__tok_hash"))).drop("__tok_hash")


def simhash_col(colname: str = "text", bits: int = 16) -> Column:
    """SimHash fingerprint as a single Column expression: bit j is the sign
    of the sum over tokens of (2*bit_j(hex64(token)) - 1). Map-side;
    returns a bigint. NOTE: as one expression this hashes per (token, bit)
    — prefer ``with_simhash`` (hash-once + fence) in query plans."""
    # Closure factory, NOT a default arg: pyspark derives the HOF lambda's
    # arity from its signature, so `lambda s, t, j=j` would be called with a
    # third Column. bitwiseAND with a mask rather than shiftright, which
    # breaks inside higher-order-function lambdas.
    def _merge(mask: int):
        return lambda s, t: s + F.when(
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
            .cast("bigint")
            .bitwiseAND(F.lit(mask))
            != F.lit(0),
            F.lit(1).cast("long"),
        ).otherwise(F.lit(-1).cast("long"))

    acc = None
    for j in range(bits):
        bit_sum = F.aggregate(tokens_of(colname), F.lit(0).cast("long"), _merge(1 << j))
        term = F.when(bit_sum > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        acc = term if acc is None else acc + term
    return acc


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair list → (doc_id, component)
    with component = min doc id in the component — turns pairwise matches
    into dedup groups (keep one representative per component).

    Size-adaptive, the same shape as Spark's own broadcast-join threshold:

    - ``≤ driver_threshold`` pairs: collect the edge list via Arrow
      (``toPandas`` → two primitive numpy columns, so 1M long pairs really
      IS ~16 MB — a Row-object collect would cost 1-2 orders of magnitude
      more in Python object overhead) and run union-find with path
      halving over compact integer indices (``np.unique`` remap; the
      parent table is one int64 array, never a dict of boxed ids).
      Near-dup pair sets are tiny relative to their corpus (the banded
      candidates are already verified), so this is the common case and it
      replaces 2+ join/agg/checkpoint rounds of pure scheduler floor with
      one job. Output is identical: min-label per node is
      algorithm-independent.
    - larger: iterative min-label propagation over the undirected edge
      set; each round is one join + aggregate, converging in O(component
      diameter) rounds (near-dup clusters are shallow). The loop is
      driver-side control flow only — data never leaves executors; each
      iteration localCheckpoints to keep lineage flat. Round 0 needs no
      join: the initial label of a node IS its id, so the first
      neighbor-min is just ``min(dst) per src``. GraphFrames/GraphX CC is
      the drop-in at extreme scale; this stays dependency-free.
    """
    # One materialization for everything downstream: the count probe, the
    # driver collect, and (on the distributed path) both sides of the
    # undirected union — without this fence the pair pipeline upstream
    # would re-run per action.
    pairs = pairs.localCheckpoint(eager=False)
    n_pairs = pairs.count()
    if n_pairs <= driver_threshold:
        pdf = pairs.select(id_a, id_b).toPandas()
        av, bv = pdf[id_a].to_numpy(), pdf[id_b].to_numpy()
        # compact index space: nodes sorted ascending, so smaller index ==
        # smaller id and union-by-min-index IS union-by-min-id
        nodes, inv = np.unique(np.concatenate([av, bv]), return_inverse=True)
        ia, ib = inv[: len(av)], inv[len(av):]
        parent = np.arange(len(nodes), dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in zip(ia, ib):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots = np.array([find(i) for i in range(len(nodes))], dtype=np.int64)
        id_type = pairs.schema[id_a].dataType.simpleString()
        out_pdf = pd.DataFrame({"doc_id": nodes, "component": nodes[roots]})
        return pairs.sparkSession.createDataFrame(
            out_pdf, schema=f"doc_id {id_type}, component {id_type}"
        )

    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    und = fwd.unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    for it in range(max_iterations):
        if it == 0:
            # initial component(x) == x, so min-of-neighbor-components is
            # min(dst) per src — no join needed for the first round
            neighbor_min = und.groupBy("src").agg(F.min("dst").alias("__nbr_min"))
        else:
            neighbor_min = (
                und.join(labels, und.dst == labels.node)
                .groupBy("src")
                .agg(F.min("component").alias("__nbr_min"))
            )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("__nbr_min"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
        labels = updated
        # labels only ever decrease, so an unchanged sum means a fixpoint —
        # one aggregate per round instead of a join + count
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("node").alias("doc_id"), "component")


def substring_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    colname: str = "text",
    window: int = 40,
    stride: int = 10,
    hash_windows: bool = False,
) -> DataFrame:
    """Cross-document SUBSTRING duplication (the ExactSubstr idea from
    public training-data dedup literature: long verbatim character spans
    shared across documents are the strongest dup signal — boilerplate,
    licenses, templated pages — and survive token-level paraphrase
    metrics). Each doc is cut into ``window``-char spans every ``stride``
    chars; a span occurring more than once ANYWHERE in the corpus (other
    docs or repeated within one) is a duplicated span. Output per doc:
    ``n_windows``, ``n_dup_windows``, ``dup_ratio`` (6 dp) — the
    drop/trim decision input. Docs shorter than ``window`` have 0 windows
    and ratio 0.

    Plan shape: map-side window explode (~len/stride rows per doc) → one
    shuffle on the span key for the global occurrence count → co-
    partitioned join back (reuses the same hash partitioning, no second
    exchange for the probe side) → per-doc count aggregate. Never doc ×
    doc. ``hash_windows=True`` is the 100 TB knob: shuffle 8-byte
    ``xxhash64(span)`` keys instead of 40-char strings (5× narrower
    shuffle rows; collisions only merge counts, biasing dup_ratio up by
    ~2^-64 per pair — negligible, but not oracle-reproducible, so the
    registry query keeps the exact-string default)."""
    spans = _doc_window_spans(df, id_col, colname, window, stride).select(
        id_col, "__span"
    )
    key = F.xxhash64(F.col("__span")).alias("__k") if hash_windows else F.col(
        "__span"
    ).alias("__k")
    keyed = spans.select(id_col, key).localCheckpoint(eager=False)
    counts = keyed.groupBy("__k").agg(F.count(F.lit(1)).alias("__n"))
    per_doc = (
        keyed.join(counts, "__k")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("__n") >= 2).cast("long")).alias("n_dup_windows"),
        )
    )
    # docs with zero windows drop out of the explode — restore them
    all_docs = df.select(id_col)
    return (
        all_docs.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_windows", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
    )


def _doc_window_spans(
    df: DataFrame,
    id_col: str,
    colname: str,
    window: int,
    stride: int,
) -> DataFrame:
    """(id, __kk, __span) rows: every ``window``-char span at ``stride``
    offsets, posexploded with its offset index. THE single source of the
    windowing arithmetic — substring_dup_spans (the signal) and
    _removable_spans (the keep/trim actions) both consume it, so the
    span generation can never diverge between signal and action.
    sequence(0, -1) DESCENDS in Spark (yields [0, -1]) — short docs must
    take the empty-array branch, not the sequence."""
    n_win = F.when(
        F.length(F.col(colname)) >= window,
        ((F.length(F.col(colname)) - window) / stride).cast("int") + 1,
    ).otherwise(F.lit(0))
    offsets = F.when(n_win >= 1, F.sequence(F.lit(0), n_win - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.select(
        id_col,
        F.posexplode(
            F.transform(
                offsets,
                lambda k: F.col(colname).substr(k * stride + 1, F.lit(window)),
            )
        ).alias("__kk", "__span"),
    )


def _removable_spans(
    df: DataFrame,
    id_col: str,
    colname: str,
    window: int,
    stride: int,
) -> DataFrame:
    """(id, k) rows for every REMOVABLE window: the occurrence-rank rule of
    ExactSubstr-style dedup applied at window granularity. All occurrences
    of a span rank by (doc_id, offset); rank 1 is the canonical copy and
    is never removed, ranks >= 2 are removable. This is what makes the
    ACTION keep-one-copy rather than drop-all-copies: the earliest doc
    retains the text, later verbatim copies lose it. One shuffle on the
    span key (same plan spine as substring_dup_spans), one rank window."""
    spans = _doc_window_spans(df, id_col, colname, window, stride)
    w = Window.partitionBy("__span").orderBy(F.col(id_col), F.col("__kk"))
    return spans.withColumn("__rn", F.row_number().over(w))


def substring_dedup_keep(
    df: DataFrame,
    cutoff: float = 0.5,
    id_col: str = "doc_id",
    colname: str = "text",
    window: int = 40,
    stride: int = 10,
) -> DataFrame:
    """Substring-dedup ACTION, drop flavor (VERDICT r6 #5): compute each
    doc's REMOVABLE window ratio (occurrence rank >= 2 under the global
    (doc_id, offset) order — the canonical first copy never counts
    against its owner) and keep docs strictly below ``cutoff``. Docs with
    zero windows are kept. Output: (id, n_windows, n_removable,
    removable_ratio) for the kept docs — the observability columns ride
    along so the filter is auditable.

    Differs from thresholding ``substring_dup_spans.dup_ratio`` in
    exactly the way that matters: that signal is symmetric (both copies
    of a duplicate score 1.0 and would BOTH be dropped); this ratio is
    ownership-aware, so one representative always survives — the
    SemDeDup keep-smallest rule, at substring granularity."""
    ranked = _removable_spans(df, id_col, colname, window, stride)
    per_doc = ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum((F.col("__rn") >= 2).cast("long")).alias("n_removable"),
    )
    all_docs = df.select(id_col)
    stats = all_docs.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
        F.coalesce("n_removable", F.lit(0)).alias("n_removable"),
        F.round(
            F.coalesce("n_removable", F.lit(0)).cast("double")
            / F.greatest(F.coalesce("n_windows", F.lit(0)), F.lit(1)),
            6,
        ).alias("removable_ratio"),
    )
    return stats.filter(F.col("removable_ratio") < cutoff)


def substring_dedup_trim(
    df: DataFrame,
    id_col: str = "doc_id",
    colname: str = "text",
    window: int = 40,
    stride: int = 10,
) -> DataFrame:
    """Substring-dedup ACTION, trim flavor — the real ExactSubstr
    behavior (public training-data dedup literature): REMOVE the
    duplicated character ranges from every non-canonical occurrence and
    re-emit the spliced text, keeping the doc. Removable windows (rank
    >= 2 per span under the (doc_id, offset) order) map to char
    intervals [k*stride, k*stride+window); overlapping intervals merge
    (stride < window makes runs of removable windows overlap), and the
    kept segments concatenate in order. The canonical first occurrence
    of every span keeps its text, so each duplicated region survives
    exactly once corpus-wide.

    Output: (id, text) with the trimmed text under the original column
    name. Plan: the shared span-rank shuffle, a per-doc collect_list of
    removable offsets (bounded by len/stride ints per doc), one
    broadcast-free join back to the docs, and an Arrow-batched splice
    kernel (interval merge is O(windows), splice O(len) — per-char
    higher-order functions would evaluate interpretively per character).
    """
    ranked = _removable_spans(df, id_col, colname, window, stride)
    rem = (
        ranked.filter(F.col("__rn") >= 2)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__kk")).alias("__ks"))
    )

    @pandas_udf("string")
    def _splice(texts: pd.Series, ks_lists: pd.Series) -> pd.Series:
        out = []
        for text, ks in zip(texts, ks_lists):
            if ks is None or len(ks) == 0:
                out.append(text)
                continue
            ivs: list[list[int]] = []
            for k in ks:
                s, e = int(k) * stride, int(k) * stride + window
                if ivs and s <= ivs[-1][1]:
                    ivs[-1][1] = max(ivs[-1][1], e)
                else:
                    ivs.append([s, e])
            kept, prev = [], 0
            for s, e in ivs:
                kept.append(text[prev:s])
                prev = e
            kept.append(text[prev:])
            out.append("".join(kept))
        return pd.Series(out)

    return df.join(rem, id_col, "left").select(
        id_col, _splice(F.col(colname), F.col("__ks")).alias(colname)
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", colname: str = "text"
) -> DataFrame:
    """Exact dedup: keep the min-id row per SHA-256(text). One shuffle on the
    content hash — identical keys co-locate regardless of input layout."""
    w = Window.partitionBy(F.sha2(F.col(colname), 256)).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def prefix_jaccard_join(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    colname: str = "text",
) -> DataFrame:
    """EXACT token-set similarity join via prefix filtering (the
    PPJoin-family candidate rule, public literature): returns every pair
    with token-set ``Jaccard >= threshold`` — no approximation, unlike the
    minhash/simhash/sketch paths, and no all-pairs cross product, unlike
    the brute-force verifier.

    Candidate rule: order each doc's distinct tokens by ONE global order
    (ascending corpus frequency, token text as tiebreak — prefixes carry
    the RAREST tokens, which also defuses hot-token join skew), take the
    first ``|x| - ceil(t*|x|) + 1`` tokens; any pair with Jaccard >= t
    must share at least one prefix token (pigeonhole on the overlap bound
    ``inter >= ceil(t/(1+t) * (|a|+|b|))`` — a disjoint-prefix pair can't
    reach it). Prefix length uses EXACT integer arithmetic
    (``(num*s + den - 1) div den`` with t as a e6-denominator rational):
    a float ``ceil(t*s)`` can land one too high when t*s is an exact
    integer (double(0.55)*20 = 11.000000000000002 → ceil 12), silently
    SHORTENING the prefix and losing pairs.

    Plan shape: token explode → frequency agg (one shuffle) → per-doc
    ordered array (one shuffle) → prefix explode → candidate equi-join on
    the prefix token → distinct pairs → exact-Jaccard verify on the full
    arrays. Work scales with shared-prefix-token pairs, never docs².

    r14 physical rewrite (same pairs, same sims — oracle-verified):

    - the candidate join and pair dedup move IDS ONLY; the token arrays
      are re-attached by id afterwards (guide §8: every shuffle but the
      last operates on a lightweight proxy — the r13 shape carried both
      full arrays through the join and the dedup exchange);
    - the verify runs on ``xxhash64``-hashed token arrays (long compares
      instead of string hashing per element per pair) with the union
      size derived arithmetically (``|a|+|b|-inter`` — both arrays are
      distinct), PROVABLY exact: it is used only when
      ``count(distinct token) == count(distinct xxhash64(token))`` over
      the corpus vocabulary (one scalar aggregate on the frequency
      table), i.e. the hash is injective on every token this corpus can
      ever intersect; on a collision (never yet observed) it falls back
      to the string-array verify bit-identically. Measured 9.7 → 2.6 s
      on the sf0.1 registry query (647k candidates).
    """
    num = int(round(threshold * 1_000_000))
    den = 1_000_000
    base = df.select(
        F.col(id_col).alias("__id"), F.array_distinct(tokens_of(colname)).alias("__tk")
    ).filter(F.size("__tk") > 0)
    tok = base.select("__id", F.explode("__tk").alias("__t"))
    freq = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__f")).localCheckpoint(
        eager=False
    )  # reused: injectivity check + the order join
    nrow = freq.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.xxhash64("__t")).alias("h"),
    ).collect()[0]
    hash_exact = nrow.n == nrow.h
    ordered = (
        tok.join(freq, "__t")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("__f", "__t"))).alias("__o"))
        .select(
            "__id",
            F.transform("__o", lambda s: s["__t"]).alias("__arr"),
        )
    )
    if hash_exact:
        # order-preserving, so the rarest-first prefix is a slice of the
        # hashed array exactly as it was of the string array
        ordered = ordered.select(
            "__id", F.transform("__arr", lambda t: F.xxhash64(t)).alias("__arr")
        )
    ordered = ordered.localCheckpoint(eager=False)  # pref + both verify sides
    sz = F.size("__arr")
    plen = sz - F.expr(f"({num}L * size(__arr) + {den - 1}) div {den}") + F.lit(1)
    # no PPJoin length/positional prunes here: they cut candidates 11.3M ->
    # 3.3M on the sf0.1 registry query but bought no wall time (A/B in
    # OPTIMIZATION_r15.md: 3.70 -> 3.55 s median, inside the 0.48 s IQR)
    pref = ordered.select(
        "__id", F.explode(F.slice("__arr", 1, plen)).alias("__p")
    )
    a = pref.select(F.col("__id").alias("id_a"), "__p")
    b = pref.select(F.col("__id").alias("id_b"), "__p")
    cand = (
        a.join(b, "__p")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    fetch = cand.join(
        ordered.select(F.col("__id").alias("id_a"), F.col("__arr").alias("__arr_a")),
        "id_a",
    ).join(
        ordered.select(F.col("__id").alias("id_b"), F.col("__arr").alias("__arr_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__arr_a", "__arr_b")).cast("double")
    union = (F.size("__arr_a") + F.size("__arr_b")).cast("double") - inter
    j = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        fetch.withColumn("jaccard_sim", F.round(j, 6))
        .filter(j >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard_sim")
    )


def _containment_probe_broadcast(
    probe: DataFrame,
    corpus: DataFrame,
    p_rows: list,
    a_sets: list,
    vocab: set,
    num: int,
    den: int,
    id_col: str,
    colname: str,
) -> DataFrame:
    """Small-probe containment dispatch (see ``containment_join``): the
    probe token sets ride the task closure as a (vocabulary × probes)
    uint8 membership matrix; each corpus doc maps its tokens onto the
    probe vocabulary (tokens outside it cannot contribute to any
    ``|a ∩ b|``) and one integer column-sum yields the EXACT
    intersection size against every probe at once. Integer threshold
    compare in the kernel; id mapping, the ``a != b`` filter and the
    HALF_UP 6dp round stay JVM-side — the same value path as the join
    form, so results are bit-identical."""
    spark = probe.sparkSession
    a_type = probe.schema[id_col].dataType
    if not p_rows:
        b_t = corpus.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [],
            schema=f"id_a {a_type.simpleString()}, id_b {b_t}, containment double",
        )
    a_ids = [r[0] for r in p_rows]
    vmap = {t: i for i, t in enumerate(sorted(vocab))}
    member = np.zeros((len(vmap), len(a_ids)), dtype=np.uint8)
    for j, s in enumerate(a_sets):
        for t in s:
            member[vmap[t], j] = 1
    sza = np.array([len(s) for s in a_sets], dtype=np.int64)
    thr = num * sza  # inter * den >= num * |a|, exact in int64

    c = corpus.select(
        F.col(id_col).alias("id_b"),
        F.array_distinct(tokens_of(colname)).alias("__tkb"),
    )
    par = spark.sparkContext.defaultParallelism
    if c.rdd.getNumPartitions() < par:
        c = c.repartition(par)
    b_type = c.schema["id_b"].dataType.simpleString()
    out_schema = f"__aidx int, id_b {b_type}, __inter long, __sza long"

    def _score(batches):
        for pdf in batches:
            ids_b = pdf["id_b"]
            hit_aidx, hit_bpos, hit_inter = [], [], []
            for pos, tks in enumerate(pdf["__tkb"]):
                if tks is None:  # null text -> null token array
                    continue
                idxs = [vmap[t] for t in set(tks) if t in vmap]
                if not idxs:
                    continue
                inter = member[idxs].sum(axis=0, dtype=np.int64)
                hit = np.nonzero((inter >= 1) & (inter * den >= thr))[0]
                if hit.size:
                    hit_aidx.append(hit)
                    hit_bpos.append(np.full(hit.size, pos, dtype=np.int64))
                    hit_inter.append(inter[hit])
            if not hit_aidx:
                continue
            # one columnar emit per batch — the per-hit Python tuple loop
            # was the kernel's cost at dense output (565k pairs, sf0.1)
            aidx = np.concatenate(hit_aidx)
            bpos = np.concatenate(hit_bpos)
            yield pd.DataFrame(
                {
                    "__aidx": aidx.astype(np.int32),
                    "id_b": ids_b.iloc[bpos].to_numpy(),
                    "__inter": np.concatenate(hit_inter),
                    "__sza": sza[aidx],
                }
            )

    aid_arr = F.array(*[F.lit(x) for x in a_ids])
    return (
        c.mapInPandas(_score, schema=out_schema)
        .select(
            # cast: the lit-array element type is inferred from Python
            # values and can narrow (e.g. small longs -> int); pin it to
            # the probe's declared id type (ADVICE r14)
            F.element_at(aid_arr, F.col("__aidx") + 1)
            .cast(a_type)
            .alias("id_a"),
            "id_b",
            F.round(
                F.col("__inter").cast("double") / F.col("__sza").cast("double"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )


def containment_join(
    probe: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    colname: str = "text",
) -> DataFrame:
    """EXACT token-set containment join: every (probe a, corpus b) pair,
    ``a != b``, with ``C(a,b) = |a ∩ b| / |a| >= threshold`` — the
    ASYMMETRIC dedup case Jaccard misses (a short doc wholly embedded in
    a long one scores near-zero Jaccard but containment ~1; think
    quote-heavy pages, boilerplate wrappers, chunk-of-document leaks).

    Candidate rule is the prefix filter adapted to containment:
    ``C >= t`` means ``a`` misses at most ``|a| - ceil(t*|a|)`` of its
    OWN tokens from ``b``, so any ``|a| - ceil(t*|a|) + 1`` of them must
    hit ``b`` — index the probe's rarest-first prefix of that length
    against ALL of the corpus side's tokens. The asymmetry is inherent:
    no prefix bound exists for the containING side (|b| is unbounded in
    the ratio), which is exactly why this join costs more than the
    Jaccard one and why the probe side should be the small/delta side.
    Prefix length uses the same exact integer-rational arithmetic as
    ``prefix_jaccard_join`` (a float ceil can silently shorten the
    prefix and drop pairs); the threshold compare is integer too
    (``inter * den >= num * |a|``), so no pair is lost to a double
    rounding at the boundary. Work scales with prefix-token document
    frequency, never |probe| × |corpus|.

    r15 dispatch (guide §8: shuffle a lightweight proxy — here, nothing):
    when the probe fits the closure gates (``MAX_BROADCAST_PROBE_DOCS``
    docs, ``MAX_PROBE_MEMBERSHIP_BYTES`` vocabulary × docs matrix) the
    join runs as ONE ``mapInPandas`` pass over the corpus against the
    collected probe token sets — only tokens of ``a`` can contribute to
    ``|a ∩ b|``, so each corpus doc projects onto the probe vocabulary
    and every intersection size falls out of one integer matrix sum.
    No corpus-frequency pass, no candidate join, no pair-dedup
    exchange, no verify joins: the r14 shape shuffled 757k candidate
    pairs on the sf0.1 registry query; this shape shuffles none. The
    threshold compare stays exact integer (``inter * den >= num *
    |a|``), the division + HALF_UP round stay JVM-side, so the output
    is bit-identical (pinned both-paths in test_round15_opt). One
    aggregate (doc count, summed token count) sizes the probe first, so
    nothing is collected for a probe the gates reject. Above the gates
    the r14 prefix-filter join runs unchanged."""
    num = int(round(threshold * 1_000_000))
    den = 1_000_000
    p = probe.select(
        F.col(id_col).alias("id_a"),
        F.array_distinct(tokens_of(colname)).alias("__tka"),
    ).filter(F.size("__tka") > 0)
    # one aggregate sizes the probe BEFORE anything reaches the driver: a
    # few huge docs must not be collected only to fail the byte gate
    size = p.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("__tka")).alias("tok")
    ).collect()[0]
    n_tok = size.tok or 0
    if (
        size.n <= MAX_BROADCAST_PROBE_DOCS
        and n_tok * 64 <= MAX_PROBE_MEMBERSHIP_BYTES
    ):
        p_rows = p.collect()
        a_sets = [set(r[1]) for r in p_rows]
        vocab = {t for s in a_sets for t in s}
        if len(vocab) * max(len(a_sets), 1) <= MAX_PROBE_MEMBERSHIP_BYTES:
            return _containment_probe_broadcast(
                probe, corpus, p_rows, a_sets, vocab, num, den, id_col, colname
            )
    c = corpus.select(
        F.col(id_col).alias("id_b"),
        F.array_distinct(tokens_of(colname)).alias("__tkb"),
    ).filter(F.size("__tkb") > 0)
    ctok = c.select(
        "id_b",
        # long: the e6-rational length-bound product overflows int32 at
        # |doc| >= 2148 tokens
        F.size("__tkb").cast("long").alias("__szb"),
        F.explode("__tkb").alias("__t"),
    )
    freq = ctok.groupBy("__t").agg(F.count(F.lit(1)).alias("__f")).localCheckpoint(
        eager=False
    )  # reused: injectivity check (as the corpus vocabulary) + order join
    ordered = (
        p.select("id_a", F.explode("__tka").alias("__t"))
        .join(freq, "__t", "left")
        .fillna(0, ["__f"])
        .groupBy("id_a")
        .agg(F.array_sort(F.collect_list(F.struct("__f", "__t"))).alias("__o"))
        .select("id_a", F.transform("__o", lambda s: s["__t"]).alias("__arr"))
    )
    plen = (
        F.size("__arr")
        - F.expr(f"({num}L * size(__arr) + {den - 1}) div {den}")
        + F.lit(1)
    )
    pref = ordered.select(
        "id_a",
        F.size("__arr").cast("long").alias("__sza"),
        F.explode(F.slice("__arr", 1, plen)).alias("__t"),
    )
    # r14 length filter (PPJoin's size bound, lossless by definition):
    # C(a,b) >= t forces |b| >= |a ∩ b| >= ceil(t*|a|), so corpus docs
    # shorter than that can never verify — drop them AT the candidate
    # join (same exact integer-rational compare as the verify) before
    # they reach the pair dedup exchange.
    cand = (
        pref.join(ctok, "__t")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("__szb") * den >= F.col("__sza") * num)
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # r14: verify on xxhash64-hashed token arrays (long compares instead
    # of per-pair string hashing — same rewrite as prefix_jaccard_join,
    # measured 7.5 → 2.9 s on dd_containment_pairs at sf0.1). Exactness
    # gate: injectivity is checked over the UNION of probe and corpus
    # vocabularies (a probe-only ↔ corpus collision would fabricate an
    # intersection member); string fallback is bit-identical. The hashed
    # sides are checkpointed so each doc's array hashes once, not per
    # candidate pair.
    vocab = p.select(F.explode("__tka").alias("__t")).unionByName(
        freq.select("__t")  # already the distinct corpus vocabulary
    )
    chk = vocab.agg(
        F.countDistinct("__t").alias("n"),
        F.countDistinct(F.xxhash64("__t")).alias("h"),
    ).collect()[0]
    if chk.n == chk.h:
        pv = p.select(
            "id_a", F.transform("__tka", lambda t: F.xxhash64(t)).alias("__tka")
        )
        cv = c.select(
            "id_b", F.transform("__tkb", lambda t: F.xxhash64(t)).alias("__tkb")
        )
    else:  # pragma: no cover - no 64-bit collision corpus known
        pv, cv = p, c
    pv = pv.localCheckpoint(eager=False)
    cv = cv.localCheckpoint(eager=False)
    verified = (
        cand.join(pv, "id_a")
        .join(cv, "id_b")
        .withColumn(
            "__inter", F.size(F.array_intersect("__tka", "__tkb")).cast("long")
        )
        .filter(F.col("__inter") * den >= F.lit(num) * F.size("__tka").cast("long"))
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("__inter").cast("double") / F.size("__tka").cast("double"), 6
        ).alias("containment"),
    )
