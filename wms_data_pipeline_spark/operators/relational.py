"""Relational surface helpers (SURVEY §2.3).

Nearly everything in §2.3 IS the DataFrame API (join/groupBy/window/set ops)
— the engine deliberately adds no wrappers around what Catalyst already
plans. This module holds only the compositions Spark lacks as built-ins:
as-of join, deterministic top-k, and batch sessionization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    tolerance: str | None = None,
    left_unique: list[str] | None = None,
) -> DataFrame:
    """As-of join: for each left row, the single most-recent right row with
    ``right_ts <= left_ts`` within the same key (left-outer: unmatched keep
    nulls). DuckDB/kdb ``ASOF JOIN`` equivalent.

    Implementation: equi-join on key + range predicate, then keep the max-ts
    right row per left row via one window pass. The equi-join shuffles both
    sides on the key, so skew on hot keys is handled by AQE skew-join. With a
    ``tolerance`` (e.g. ``"7 days"``) the range predicate becomes a band,
    which bounds the join fan-out — at 100 TB ALWAYS set a tolerance; an
    unbounded as-of against a long history multiplies every left row by its
    full key history before the window collapses it.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (right_on,)]
    r = right.select(
        F.col(right_on).alias("__rkey"),
        F.col(right_ts).alias("__rts"),
        *[F.col(c) for c in right_cols if c != right_ts],
    )
    cond = (F.col(left_on) == F.col("__rkey")) & (F.col("__rts") <= F.col(left_ts))
    if tolerance is not None:
        cond = cond & (F.col("__rts") >= F.col(left_ts) - F.expr(f"INTERVAL {tolerance}"))
    joined = left.join(r, on=cond, how="left")
    # one survivor per left row: partition by the caller's unique key when
    # given (cheaper window state), else by the full left column set
    part = left_unique if left_unique else list(left.columns)
    w = Window.partitionBy(*[F.col(c) for c in part]).orderBy(
        F.col("__rts").desc_nulls_last()
    )
    out = joined.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return out.drop("__rn", "__rkey").withColumnRenamed("__rts", f"asof_{right_ts}")


def top_k(df: DataFrame, k: int, order: list[Column]) -> DataFrame:
    """Deterministic top-k — callers must include a unique tiebreaker in
    ``order``. Spark plans this as TakeOrderedAndProject (per-partition heap
    + single reduce), never a global sort."""
    return df.orderBy(*order).limit(k)


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Batch sessionization: a new session starts when the gap from the
    previous event (same key) exceeds ``gap``. Returns the input plus a
    ``session_id`` (0-based per key). Streaming twin: ``session_window``
    (streaming/pipeline.py). One shuffle on ``key``."""
    w = Window.partitionBy(key).orderBy(ts_col)
    gap_expr = F.expr(f"INTERVAL {gap}")
    new_session = (
        F.col(ts_col).cast("timestamp") - F.lag(F.col(ts_col)).over(w) > gap_expr
    ).cast("long")
    return df.withColumn(
        "session_id",
        F.coalesce(F.sum(F.coalesce(new_session, F.lit(0))).over(w), F.lit(0)),
    )


def zorder_key(cols: list, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of ``len(cols)`` non-negative integer
    columns, ``bits`` bits each, as one BIGINT sort key — the
    multi-dimensional clustering technique behind Delta/Iceberg's
    OPTIMIZE ZORDER (public method): sorting by the interleaved key
    places rows close in EVERY keyed dimension into the same file/row
    group, so min/max data skipping prunes scans filtered on ANY subset
    of the dimensions (a lexicographic sort only prunes the leading
    one).

    Values are masked to ``bits`` low bits (callers range-normalize
    first — e.g. bucketize or rank — when the domain exceeds 2^bits).
    The key is a pure JVM expression (shift/or chain inside whole-stage
    codegen, identical arithmetic in any SQL engine); bits*len(cols)
    must fit a BIGINT (<= 62)."""
    k = len(cols)
    if k < 1:
        raise ValueError("zorder_key needs at least one column")
    if bits * k > 62:
        raise ValueError(f"{k} cols x {bits} bits exceeds BIGINT range")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    mask = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for j, c in enumerate(cs):
        masked = c.cast("long").bitwiseAND(F.lit(mask))
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(masked, b).bitwiseAND(F.lit(1)), b * k + j
                )
            )
    return key.cast("long")


def zorder_layout(df: DataFrame, cols: list, bits: int = 16) -> DataFrame:
    """Rewrite ``df`` into Z-order: range-partition then sort by the
    Morton key of ``cols`` so each output file covers a tight
    hyper-rectangle of the keyed dimensions. Use before a partitioned/
    bucketed write; pair with parquet min/max stats for data skipping.
    ``repartitionByRange`` samples the key distribution, so output
    files are balanced even when the key space is occupied unevenly."""
    keyed = df.withColumn("__zkey", zorder_key(cols, bits))
    n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    return (
        keyed.repartitionByRange(n, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )


#: ``market_basket_pairs`` pre-flight cap on the largest basket. The pair
#: fan-out is C(basket_size, 2) rows from ONE task's key group; a single
#: pathological mega-basket (a catch-all order key holding 10^6 items)
#: would emit 5*10^11 rows. Every sibling fan-out in the engine fails
#: loudly (MAX_SKYLINE_CANDIDATES, CMS saturation) — so does this one.
MAX_BASKET_SIZE = 10_000


def market_basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int = MAX_BASKET_SIZE,
) -> DataFrame:
    """Frequent-itemset pairs with association-rule scores (Agrawal &
    Srikant's Apriori at the pair level — the public market-basket
    method): for every unordered item pair co-occurring in at least
    ``min_pair_count`` baskets, returns (item_a, item_b, n_pairs,
    supp_x1e6, conf_a_b_x1e6, lift_x1e6) where supp = P(a,b), conf =
    P(b|a), lift = P(a,b)/(P(a)P(b)), all as EXACT scaled integers
    (staged ``div`` — bit-identical cross-engine, the same contract as
    txt_collocations_pmi).

    Integer staging and headroom: conf = (nxy * 1e6) div nx <= 1e6
    because nxy <= nx; lift = (conf * N) div ny stays <= 1e6 * N —
    inside BIGINT to N ~ 9e12 baskets. Pair generation is the
    node-iterator form (the same formulation that won the triangle
    census' wedge stage and edge build — SCALE_NOTES r10): ONE groupBy
    aggregates each basket's distinct items into a sorted array
    straight off the scan (``collect_set`` dedups inside the aggregate,
    so no separate distinct pass) and the C(size, 2) ordered pairs emit
    MAP-SIDE via a double posexplode with i < j — replacing the basket
    self-join's two extra exchanges. Fan-out stays bounded by (basket
    size choose 2), which is the real-world control: retail/doc baskets
    are tens of items. A pre-flight max-basket-size aggregate on the
    checkpointed basket arrays raises loudly above ``max_basket_size``
    instead of silently exploding — one cheap aggregate, the same
    fail-don't-serialize contract as MAX_SKYLINE_CANDIDATES. Rows with
    a NULL basket key or NULL item are dropped up front: a NULL basket
    can never form a pair, so counting it in the margins or N would
    inflate every supp/conf/lift denominator. Margins come from a
    single-explode aggregate of the same arrays, joined back by item
    key."""
    baskets = (
        df.select(
            F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
        )
        .filter(F.col("_it").isNotNull() & F.col("_bk").isNotNull())
        .groupBy("_bk")
        .agg(F.array_sort(F.collect_set("_it")).alias("_its"))
        .localCheckpoint()  # reused: guard + pairs + margins + N
    )
    sizes = baskets.agg(
        F.coalesce(F.max(F.size("_its")), F.lit(0)).alias("mx"),
        F.count(F.lit(1)).alias("n_baskets"),
    ).collect()[0]
    if sizes["mx"] > max_basket_size:
        raise ValueError(
            f"market_basket_pairs: largest basket holds {sizes['mx']} "
            f"distinct items (> max_basket_size={max_basket_size}); the "
            f"pair fan-out would be C({sizes['mx']},2) rows from one key "
            "group — filter or split mega-baskets upstream, or raise "
            "max_basket_size deliberately"
        )
    n_baskets = int(sizes["n_baskets"])
    pairs = (
        baskets.select("_its", F.posexplode("_its").alias("_i", "_it"))
        # r14: tail-slice explode emits exactly the C(size, 2) ordered
        # pairs instead of size^2 rows filtered to j > i (same rewrite
        # as the census wedge generator; rows out unchanged)
        .select(
            "_it",
            F.explode(
                F.slice(F.col("_its"), F.col("_i") + F.lit(2), F.size("_its"))
            ).alias("_it2"),
        )
        .groupBy("_it", "_it2")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_pair_count)
    )
    # r14 measured negative, left as-is: checkpointing the margins and
    # broadcast-hinting both joins read SLOWER adjacently (1.28 → 1.42 s
    # at sf0.1) — the margin aggregate is cheap off the checkpointed
    # baskets and AQE already picks the right join side at runtime.
    marg = (
        baskets.select(F.explode("_its").alias("_it"))
        .groupBy("_it")
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    ma = marg.select(F.col("_it"), F.col("_m").alias("nx"))
    mb = marg.select(F.col("_it").alias("_it2"), F.col("_m").alias("ny"))
    return (
        pairs.join(ma, "_it")
        .join(mb, "_it2")
        .select(
            F.col("_it").alias("item_a"),
            F.col("_it2").alias("item_b"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.expr(f"(n_pairs * 1000000) div {n_baskets}")
            .cast("long")
            .alias("supp_x1e6"),
            F.expr("(n_pairs * 1000000) div nx")
            .cast("long")
            .alias("conf_a_b_x1e6"),
            F.expr(
                f"(((n_pairs * 1000000) div nx) * {n_baskets}) div ny"
            )
            .cast("long")
            .alias("lift_x1e6"),
        )
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value whose
    cumulative weight reaches half the group's total weight (2*cum >=
    total — integer comparison, no FP). Returns (group, w_median).

    The composition is two windows over ONE partition-by-group sort:
    a running weight sum ordered by (value, then value again for
    determinism under ties) and the group total via an unbounded frame
    — then the min qualifying value per group. Weighted medians are
    the robust location estimate for skewed distributions (a
    quantity-weighted price tells you what a typical UNIT sold for;
    the unweighted median tells you a typical ORDER LINE) and this
    exact form is what approx_percentile cannot give: reproducible to
    the bit across engines and partitionings."""
    w_cum = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("_g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        df.select(
            F.col(group_col).alias("_g"),
            F.col(value_col).cast("long").alias("_v"),
            F.col(weight_col).cast("long").alias("_w"),
        )
        .withColumn("_cum", F.sum("_w").over(w_cum))
        .withColumn("_tot", F.sum("_w").over(w_all))
        .filter(F.col("_cum") * 2 >= F.col("_tot"))
        .groupBy("_g")
        .agg(F.min("_v").alias("w_median"))
        .select(F.col("_g").alias(group_col), "w_median")
    )


#: ``grid_distance_join(strategy="auto")`` takes the broadcast
#: nested-loop plan when the RIGHT side has at most this many rows.
#: Measured crossover (SCALE_NOTES r9 grid A/B; re-measure with
#: tools/ab.py): at
#: 200k x 2k the codegen'd theta join wins (0.87 s vs 2.45 s — the 9x
#: explode + shuffle costs more than |L|x|R| integer compares against a
#: broadcast build); by 1M x 20k the grid is 2.2x faster and the gap
#: widens with the size product. 8k sits inside the NLJ-wins region
#: with margin; override per call when the left side is tiny too.
NLJ_MAX_RIGHT_ROWS = 8_000


def grid_distance_join(
    left: DataFrame,
    right: DataFrame,
    radius: int,
    x: str = "x",
    y: str = "y",
    strategy: str = "auto",
) -> DataFrame:
    """Spatial distance join on an INTEGER plane without a cross
    product: all (left, right) pairs with squared euclidean distance
    <= radius^2, via uniform-grid blocking (the public fixed-grid
    spatial-join method; same blocking idea as LSH bands). Returns
    every ``left`` column, every ``right`` column, and ``dist2``.

    Each point lands in cell (x div radius, y div radius); any pair
    within ``radius`` differs by at most one cell per axis, so the
    LEFT side is expanded to its 3x3 neighbor cells (a 9x map-side
    explode of the smaller/probe side by convention) and the join is a
    pure EQUI-join on the cell key, followed by the exact integer
    residual dx^2 + dy^2 <= r^2 — no CartesianProduct in any plan, and
    the shuffle key (cell id) is dense-data-bounded exactly like a
    band bucket. At 100 TB the grid join is the difference between a
    theta-join the optimizer cannot hash and a shuffle whose cost is
    candidate pairs, which for physical point data is ~uniform per
    cell. Integer coords keep the residual exact (no FP distance ulps
    cross-engine); callers with lat/lon project to integer
    micro-degrees first — deltas are cast to BIGINT before squaring so
    micro-degree-sized int32 coordinates cannot wrap (|delta| > 46340
    overflows an int32 square).

    ``strategy``: ``"grid"`` always builds the cell-blocked plan — the
    only shape that parallelizes when BOTH sides are large (the 100 TB
    case). ``"nlj"`` broadcasts the right side and lets the optimizer
    take the nested-loop theta join — faster when the right side is
    broadcast-sized (the measured crossover is in NLJ_MAX_RIGHT_ROWS'
    docstring). ``"auto"`` counts the right side once (a cheap action —
    the side is about to be either broadcast or shuffled anyway) and
    picks. Both paths produce identical pairs; tested."""
    if strategy not in ("auto", "grid", "nlj"):
        raise ValueError(f"grid_distance_join: unknown strategy {strategy!r}")
    if radius < 1:
        # x div 0 would yield NULL cell keys that never join — an empty
        # result that LOOKS like "no neighbors". Fail loudly instead.
        raise ValueError(
            f"grid_distance_join: radius must be >= 1, got {radius}"
        )
    if strategy == "auto":
        strategy = "nlj" if right.count() <= NLJ_MAX_RIGHT_ROWS else "grid"
    # exact integer residual; deltas in BIGINT before the multiply (see
    # docstring), integer multiply not ** (pow() routes through double)
    dx = F.col(f"l_{x}").cast("long") - F.col(f"r_{x}").cast("long")
    dy = F.col(f"l_{y}").cast("long") - F.col(f"r_{y}").cast("long")
    dist2 = (dx * dx + dy * dy).cast("long")
    if strategy == "nlj":
        l_ren = left.select(
            *[F.col(c).alias(f"l_{c}") for c in left.columns]
        )
        r_ren = right.select(
            *[F.col(c).alias(f"r_{c}") for c in right.columns]
        )
        return (
            l_ren.join(F.broadcast(r_ren), dist2 <= radius * radius)
            .withColumn("dist2", dist2)
        )
    lx, ly = f"l_{x}", f"l_{y}"
    l_cells = left.select(
        *[F.col(c).alias(f"l_{c}") for c in left.columns],
        F.explode(
            F.array(*[F.lit(d) for d in (-1, 0, 1)])
        ).alias("_dcx"),
    ).select(
        "*",
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("_dcy"),
    ).select(
        *[f"l_{c}" for c in left.columns],
        (F.expr(f"{lx} div {radius}") + F.col("_dcx")).alias("_cx"),
        (F.expr(f"{ly} div {radius}") + F.col("_dcy")).alias("_cy"),
    )
    r_cells = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns],
        F.expr(f"r_{x} div {radius}").alias("_cx"),
        F.expr(f"r_{y} div {radius}").alias("_cy"),
    )
    return (
        l_cells.join(r_cells, ["_cx", "_cy"])
        .withColumn("dist2", dist2)
        .filter(F.col("dist2") <= radius * radius)
        .drop("_cx", "_cy")
    )


#: ``interval_overlap_join`` refuses intervals spanning more than this many
#: bins (enforced in-plan via a conditional ``raise_error`` — no extra
#: action). A single interval exploding into millions of bin rows is the
#: range-join analogue of the mega-basket fan-out ``market_basket_pairs``
#: guards against: fail loudly, let the caller widen ``bin_width_sec``.
MAX_BINS_PER_INTERVAL = 1_000

#: ``interval_overlap_join(strategy="auto")`` broadcasts the right side at
#: or below this many rows. Measured crossover (SCALE_NOTES r10 interval
#: A/B, 500k session-shaped left intervals; re-measure with tools/ab.py): at 500k x 1k the NLJ
#: wins (0.39 s vs 0.50 s — no explode, no shuffle); by 500k x 5k the
#: binned plan is 1.6x faster and 3.3x at 20k — LOWER than the grid
#: join's 8k crossover because each broadcast right row is probed against
#: every left row with TWO timestamp compares and interval fan-out grows
#: pair density faster than the grid's cell residual.
INTERVAL_NLJ_MAX_RIGHT_ROWS = 2_000


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    start: str = "start_ts",
    end: str = "end_ts",
    bin_width_sec: int = 3600,
    strategy: str = "auto",
) -> DataFrame:
    """Interval x interval OVERLAP join without a cross product: all
    (left, right) pairs of CLOSED time intervals [start, end] that
    intersect (``l.start <= r.end AND r.start <= l.end``), plus the
    exact intersection length ``overlap_us`` (microseconds, BIGINT —
    epoch-micros arithmetic, no FP). Both inputs carry ``start``/``end``
    timestamp columns of the given names; every left column comes back
    ``l_``-prefixed, every right column ``r_``-prefixed (the
    ``grid_distance_join`` convention).

    The companion to ``rel_range_join_binned``'s point-in-interval
    rewrite, for the case where BOTH sides are intervals (sessions vs
    campaign windows, outage windows vs SLA windows): each side maps to
    the ``bin_width_sec``-wide epoch bins it spans (``sequence`` +
    ``explode`` — the span is bounded by MAX_BINS_PER_INTERVAL with an
    in-plan loud error), two intervals overlap only if they share a
    bin, so the join is a pure EQUI-join on the bin key. A pair sharing
    k bins would surface k times; instead of a distinct, each pair is
    emitted ONLY from the first bin both spans share — which for
    overlapping ranges is exactly ``greatest(l_first_bin,
    r_first_bin)`` — the standard dedup-free binned range-join trick
    (what Databricks' RANGE_JOIN hint does under the hood; public
    method). Work scales with pairs-per-bin, never |L| x |R|; hot bins
    are the skew knob (shrink the bin to rebalance).

    Rows with a NULL endpoint (can never satisfy the predicate) or an
    inverted interval (``end < start`` — the empty set under closed
    semantics) are dropped on both sides before binning.

    ``strategy``: ``"bin"`` always builds the binned plan (the shape
    that survives when both sides are large); ``"nlj"`` broadcasts the
    right side and takes the nested-loop theta join (wins when the
    right side is small — measured crossover in
    INTERVAL_NLJ_MAX_RIGHT_ROWS' docstring); ``"auto"`` counts the
    right side once and picks. Both paths produce identical pairs
    (tested)."""
    if strategy not in ("auto", "bin", "nlj"):
        raise ValueError(f"interval_overlap_join: unknown strategy {strategy!r}")
    if bin_width_sec < 1:
        raise ValueError(
            f"interval_overlap_join: bin_width_sec must be >= 1, got {bin_width_sec}"
        )
    if strategy == "auto":
        strategy = (
            "nlj" if right.count() <= INTERVAL_NLJ_MAX_RIGHT_ROWS else "bin"
        )

    def _clean(df: DataFrame) -> DataFrame:
        return df.filter(
            F.col(start).isNotNull()
            & F.col(end).isNotNull()
            & (F.col(end) >= F.col(start))
        )

    l_ren = _clean(left).select(
        *[F.col(c).alias(f"l_{c}") for c in left.columns]
    )
    r_ren = _clean(right).select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    )
    ls, le = f"l_{start}", f"l_{end}"
    rs, re_ = f"r_{start}", f"r_{end}"
    pred = (F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le))
    overlap_us = (
        F.least(F.unix_micros(F.col(le)), F.unix_micros(F.col(re_)))
        - F.greatest(F.unix_micros(F.col(ls)), F.unix_micros(F.col(rs)))
    ).cast("long")
    if strategy == "nlj":
        return (
            l_ren.join(F.broadcast(r_ren), pred)
            .withColumn("overlap_us", overlap_us)
        )
    w_us = bin_width_sec * 1_000_000

    def _binned(df: DataFrame, s: str, e: str, first_bin: str) -> DataFrame:
        sb = F.expr(f"unix_micros({s}) div {w_us}")
        eb = F.expr(f"unix_micros({e}) div {w_us}")
        span = eb - sb + 1
        guarded = F.when(
            span > MAX_BINS_PER_INTERVAL,
            F.raise_error(
                F.format_string(
                    "interval_overlap_join: an interval spans %s bins "
                    + f"(cap {MAX_BINS_PER_INTERVAL}); widen bin_width_sec",
                    span.cast("string"),
                )
            ).cast("long"),
        ).otherwise(sb)
        return df.withColumn(first_bin, guarded).withColumn(
            "_bin", F.explode(F.sequence(F.col(first_bin), eb))
        )

    lb = _binned(l_ren, ls, le, "_lfb")
    rb = _binned(r_ren, rs, re_, "_rfb")
    return (
        lb.join(rb, "_bin")
        .filter(pred)
        # dedup-free: a pair sharing k bins is emitted only from the first
        # shared bin, which for intersecting ranges is greatest(first bins)
        .filter(F.col("_bin") == F.greatest(F.col("_lfb"), F.col("_rfb")))
        .withColumn("overlap_us", overlap_us)
        .drop("_bin", "_lfb", "_rfb")
    )
