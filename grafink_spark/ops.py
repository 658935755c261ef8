"""Relational operators Spark's DataFrame API lacks as primitives,
re-expressed as compositions of built-in operators (no UDFs, no
mapPartitions — Catalyst sees everything).

- ``asof_join``: for each left row, the latest right row with
  ``right.ts <= left.ts`` per key. A naive theta join is O(n·m) per
  key; the union+window formulation is one shuffle on (key) and one
  local sort — the same plan a native as-of join would produce.
- ``range_join``: pairs with ``|a.val - b.val| <= delta`` via banded
  bucketing — each row joins only its own and neighboring buckets, so
  the pair space is O(Σ bucket²) instead of O(n·m); the exact predicate
  filters the band residue.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from grafink_spark.util import pin, pin_lazy


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: every left row picks the most recent right row
    (greatest ``right.ts <= left.ts``, ``direction="backward"``) or the
    next upcoming one (smallest ``right.ts >= left.ts``,
    ``direction="forward"``) with the same ``on`` key; left rows with
    no such right row keep nulls (left-outer semantics).

    Plan: union both sides tagged, one window per key ordered by
    (ts, side, right-payload) with ``last(ignorenulls)`` carrying the
    latest right payload forward, then filter back to left rows. One
    hash shuffle on the key + local sort — no per-key nested loop, no
    range condition for the optimizer to degrade to BNLJ.

    Tie rule: among right rows sharing (key, ts), the lexicographically
    greatest payload struct ``(ts, *right_cols)`` wins — the window's
    final sort key is the payload itself, so the choice is deterministic
    (a bare (ts, side) ordering would pick whichever equal-ts right row
    the shuffle happened to order last)."""
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}"
        )
    right_cols = right_cols or [
        c for c in right.columns if c not in (on, ts)
    ]
    l_tag = left.select(
        F.col(on).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(
            right.select(
                F.struct(
                    F.col(ts).alias("_rts"), *[F.col(c) for c in right_cols]
                ).alias("s")
            ).schema["s"].dataType.simpleString()
        ).alias("_rrow"),
    )
    r_tag = right.select(
        F.col(on).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(
            left.select(
                F.struct(*[F.col(c) for c in left.columns]).alias("s")
            ).schema["s"].dataType.simpleString()
        ).alias("_lrow"),
        F.struct(
            F.col(ts).alias("_rts"), *[F.col(c) for c in right_cols]
        ).alias("_rrow"),
    )
    # right rows sort BEFORE left rows at equal ts → the bound is
    # inclusive in either direction; `_rrow` last makes equal-(key, ts)
    # right rows deterministic — the greatest payload struct wins (left
    # rows all have _rrow null, so it never reorders them). Forward
    # mode simply scans time DESCENDING: last-non-null then carries the
    # SMALLEST right ts >= the left ts.
    ts_ord = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy("_k")
        .orderBy(ts_ord, F.col("_is_left").asc(), F.col("_rrow").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l_tag.unionByName(r_tag).withColumn(
        "_match", F.last("_rrow", ignorenulls=True).over(w)
    )
    out = merged.where(F.col("_is_left") == 1).select(
        *[F.col(f"_lrow.{c}").alias(c) for c in left.columns],
        *[
            F.col(f"_match.{c}").alias(f"{c}{suffix}" if c in left.columns else c)
            for c in right_cols
        ],
        F.col("_match._rts").alias(f"{ts}{suffix}"),
    )
    return out


def range_join(
    a: DataFrame,
    b: DataFrame,
    val: str,
    delta: float,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Pairs (id from a, id from b, both values) with
    ``|a.val - b.val| <= delta``. Banded equi join: each a-row lands in
    bucket floor(val/delta) and probes buckets {-1, 0, +1}, which is
    exhaustive for the predicate; the exact |diff| filter removes band
    residue. One hash shuffle on the bucket key.

    No dedup pass is needed: each b-row has exactly ONE bucket and an
    a-row's three probe buckets are distinct, so a qualifying pair
    joins exactly once. (An earlier version ended with .distinct() — a
    semantic no-op that shuffled the ENTIRE output through a hash
    aggregate; removing it cut the sf1 bench entry from 42 s to the
    join's own cost.)"""
    from grafink_spark.util import ensure_min_partitions

    a_b = a.select(
        F.col(id_a), F.col(val).alias("_va"),
        F.explode(
            F.array(
                *[
                    (F.floor(F.col(val) / delta) + off).cast("long")
                    for off in (-1, 0, 1)
                ]
            )
        ).alias("_bucket"),
    )
    # the output can be orders of magnitude larger than the input (dense
    # values → many pairs per bucket); a small input read as one split
    # would produce it all in one task, so spread the probe side first
    a_b = ensure_min_partitions(a_b)
    b_b = b.select(
        F.col(id_b), F.col(val).alias("_vb"),
        F.floor(F.col(val) / delta).cast("long").alias("_bucket"),
    )
    return (
        a_b.join(b_b, "_bucket")
        .where(F.abs(F.col("_va") - F.col("_vb")) <= delta)
        .select(id_a, id_b, "_va", "_vb")
    )


def grouped_topk(
    df: DataFrame,
    keys: list[str],
    order_by: list,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group: ``row_number`` over (keys, order_by),
    filtered to ``<= k``. Pass fully-deterministic ``order_by``
    columns/Columns (include a unique id as the final tie-break).

    Plan/scale: Spark rewrites rank-filter windows into
    WindowGroupLimit — each map task keeps only its local top-k per
    group BEFORE the shuffle, so the exchange carries at most
    k×groups×tasks rows instead of the full table. The filter must
    stay directly above the window for the rewrite to fire (pinned in
    tests/test_plans.py)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def zscore_outliers(
    df: DataFrame,
    key: str,
    value: str,
    threshold: float = 2.0,
) -> DataFrame:
    """Rows whose ``value`` deviates from their group's mean by more
    than ``threshold`` population standard deviations; adds ``z``.
    Groups with zero variance (or a single row) yield no outliers.

    Plan/scale: one hash shuffle on the key; mean/stddev are window
    aggregates over the whole partition (no ordering → single pass),
    then the filter is local. Skewed keys: a hot key's partition holds
    all its rows — for pathological single-key data, pre-aggregate
    (groupBy → join) instead; for typical key cardinality the window
    form saves the join."""
    w = Window.partitionBy(key)
    mean = F.avg(value).over(w)
    sd = F.stddev_pop(value).over(w)
    # zero-variance groups produce null z (not a div-by-zero — the
    # session runs ANSI mode, where x/0 raises)
    z = (F.col(value) - mean) / F.when(sd != 0, sd)
    return (
        df.withColumn("z", z)
        .where(F.col("z").isNotNull() & (F.abs("z") > threshold))
    )


def quantile_filter(
    df: DataFrame,
    value: str,
    q: float,
    keep: str = "ge",
) -> DataFrame:
    """Rows at or beyond the exact corpus ``q``-quantile of ``value``
    (linear interpolation, the SQL ``percentile_cont`` rule).
    ``keep='ge'`` keeps rows >= the threshold, ``'le'`` rows <=.

    Plan/scale: the exact percentile is one global aggregation to a
    1-row DataFrame, broadcast back as the filter bound — two jobs, no
    driver round-trip through Python values. At 100 TB swap
    ``percentile`` for ``percentile_approx`` (t-digest, fixed memory);
    the exact form here keeps the oracle bit-exact."""
    thr = df.agg(
        F.expr(f"percentile({value}, {q!r})").alias("_thr")
    )
    out = df.crossJoin(F.broadcast(thr))
    cond = (
        F.col(value) >= F.col("_thr")
        if keep == "ge"
        else F.col(value) <= F.col("_thr")
    )
    return out.where(cond).drop("_thr")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    cond: Column,
    keys: list[str],
    salt_from: Column,
    salts: int,
) -> DataFrame:
    """Skew-defeating inner join on ``cond``, whose equality terms are
    on ``left``'s ``keys``: left rows take the salt
    ``pmod(salt_from, salts)`` and are repartitioned on (keys, salt),
    right rows are replicated once per salt (``explode``), and the join
    adds salt equality. Each matching pair meets exactly once, in its
    left row's salt, so the result is row-identical to
    ``left.join(right, cond)`` while a hot key's work spreads over
    ``salts`` tasks.

    AQE's skew-join split cannot do this: it splits by INPUT bytes, so
    it never sees output skew (a g-row key emits g² pairs from a few MB
    of input). The repartition matters as much as the salt: hot rows
    arrive clustered in a few input splits, and a broadcast join would
    probe them all in those few tasks.

    ``salt_from`` must be deterministic (not rand(): a retried task
    would re-salt rows and drop/duplicate matches); ``cond`` names
    columns unambiguous across the sides. Cost: right side × salts.
    """
    # pmod, not abs-mod: abs(hash) = Int.MinValue overflows under ANSI
    salted_l = left.withColumn(
        "_salt", F.pmod(salt_from, F.lit(salts)).cast("int")
    ).repartition(salts, *keys, "_salt")
    salted_r = right.withColumn(
        "_salt_r", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    return salted_l.join(
        salted_r, cond & (F.col("_salt") == F.col("_salt_r")), "inner"
    ).drop("_salt", "_salt_r")


def mutual_best_match(
    pairs: DataFrame,
    left: str = "left_id",
    right: str = "right_id",
    score: str = "score",
) -> DataFrame:
    """One-to-one assignment from scored candidate pairs (the entity-
    resolution step after blocking + scoring): keep a pair iff it is
    BOTH the left side's best right and the right side's best left
    (mutual nearest neighbor). Deterministic ties: higher score, then
    lower partner id. Greedy-mutual is the standard scalable stand-in
    for optimal assignment (Hungarian is O(n³) and inherently serial).
    Output columns: (left, right, score).

    Plan/scale: per-side argmax as TWO-PHASE plain-max aggregation —
    not window ranks, not max_by. ``max(score)`` / ``min(partner)``
    keep primitive aggregation buffers, so both phases run as
    HashAggregate with map-side partials: no sort of the candidate set
    anywhere, and each exchange carries at most (#keys × #map
    partitions) rows. The rejected alternatives both sort the full
    pair set — row_number() windows sort it globally twice (28.8 s on
    the sf1 bench's 60M pairs), and max_by/struct buffers demote to
    SortAggregate (two 60M local sorts, 55.7 s); this plan runs the
    same input in ~3 s. Phase 2's equality join-back on
    score == best-score is exact: both sides evaluate the identical
    score expression, so the doubles are bit-identical. The per-key
    best tables are key-sized; AQE broadcasts them when small.
    Requires non-null scores (ER scorers emit none).
    """
    sc = F.col(score)
    # phase 1: best score per key (hash agg, partial map-side)
    bl = pairs.groupBy(left).agg(F.max(score).alias("_bsl"))
    br = pairs.groupBy(right).agg(F.max(score).alias("_bsr"))
    # phase 2: rows achieving the best, tie → min partner (hash agg)
    lb = (
        pairs.join(bl, left)
        .where(sc == F.col("_bsl"))
        .groupBy(left)
        .agg(F.min(right).alias(right), F.max(score).alias(score))
    )
    rb = (
        pairs.join(br, right)
        .where(sc == F.col("_bsr"))
        .groupBy(right)
        .agg(F.min(left).alias(left))
    )
    return lb.join(rb, [left, right]).select(left, right, score)


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_id: str,
    left_val: str,
    right_id: str,
    right_val: str,
) -> DataFrame:
    """1-D nearest-neighbor join: for every left row, the right row in
    the same ``on`` group whose ``right_val`` is numerically closest to
    ``left_val``; ties broken by smaller ``right_id``. Values must be
    non-null.

    This is the scalable replacement for "cross join the block, score
    by -abs(a-b), keep the argmax": that materializes |L|×|R| pairs
    per block (quadratic in scale factor when blocks are fixed-
    cardinality — the sf1 bench's nation blocking hit 60M pairs), while
    the nearest neighbor on a LINE needs only each left value's floor
    and ceiling among the right values. Plan: per-value right dedup
    (hash agg, ties pre-resolved to min id), one union + one shuffle on
    the group key, two linear window scans (ascending for the floor
    neighbor, descending for the ceiling), then an arithmetic pick —
    O((|L|+|R|) log) sort work, zero joins, output |L| rows.

    Output: (on, left_id, right_id, dist) — dist = |left_val-right_val|.
    """
    rr = (
        right.groupBy(F.col(on).alias("_g"), F.col(right_val).alias("_v"))
        .agg(F.min(right_id).alias("_rid"))
    )
    lf = left.select(
        F.col(on).alias("_g"),
        F.col(left_id).alias("_lid"),
        F.col(left_val).alias("_v"),
    )
    lid_t = dict(left.dtypes)[left_id]
    rid_t = dict(right.dtypes)[right_id]
    both = rr.select(
        "_g", "_v", "_rid", F.lit(None).cast(lid_t).alias("_lid"),
        F.lit(0).alias("_is_l"),
    ).unionByName(
        lf.select(
            "_g", "_v", F.lit(None).cast(rid_t).alias("_rid"), "_lid",
            F.lit(1).alias("_is_l"),
        )
    )
    cand = F.when(F.col("_is_l") == 0, F.struct(F.col("_v"), F.col("_rid")))
    w_floor = (
        Window.partitionBy("_g")
        .orderBy(F.col("_v").asc(), F.col("_is_l").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_ceil = (
        Window.partitionBy("_g")
        .orderBy(F.col("_v").desc(), F.col("_is_l").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scanned = both.select(
        "*",
        F.last(cand, ignorenulls=True).over(w_floor).alias("_flo"),
        F.last(cand, ignorenulls=True).over(w_ceil).alias("_cei"),
    ).where(F.col("_is_l") == 1)
    d_flo = F.abs(F.col("_v") - F.col("_flo._v"))
    d_cei = F.abs(F.col("_v") - F.col("_cei._v"))
    best = (
        F.when(F.col("_flo").isNull(), F.col("_cei"))
        .when(F.col("_cei").isNull(), F.col("_flo"))
        .when(d_flo < d_cei, F.col("_flo"))
        .when(d_cei < d_flo, F.col("_cei"))
        # equal distance: the quadratic argmax would take the smaller
        # id among ALL rights at that distance — floor/ceiling each
        # already carry the min id at their value
        .when(F.col("_flo._rid") <= F.col("_cei._rid"), F.col("_flo"))
        .otherwise(F.col("_cei"))
    )
    return scanned.withColumn("_best", best).select(
        F.col("_g").alias(on),
        F.col("_lid").alias(left_id),
        F.col("_v").alias(left_val),
        F.col("_best._rid").alias(right_id),
        F.col("_best._v").alias(right_val),
        F.abs(F.col("_v") - F.col("_best._v")).alias("dist"),
    )


def grouped_quantile_filter(
    df: DataFrame,
    key: str,
    value: str,
    q: float,
    keep: str = "ge",
) -> DataFrame:
    """Per-group sibling of :func:`quantile_filter`: rows at or beyond
    their OWN group's exact ``q``-quantile — the shape of per-language
    quality thresholding ("keep each language's top quartile", so
    low-resource languages aren't wiped out by a global cutoff).

    Plan/scale: one hash aggregation to a groups-sized threshold table
    (percentile buffers are per-group, partial-capable), joined back
    broadcast; the filter is then local. At 100 TB swap ``percentile``
    for ``percentile_approx`` per group."""
    thr = df.groupBy(key).agg(
        F.expr(f"percentile({value}, {q!r})").alias("_thr")
    )
    out = df.join(F.broadcast(thr), key)
    cond = (
        F.col(value) >= F.col("_thr")
        if keep == "ge"
        else F.col(value) <= F.col("_thr")
    )
    return out.where(cond).drop("_thr")


def bloom_prefilter(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    m_bits: int = 4096,
    hashes: int = 3,
) -> DataFrame:
    """Semi-join reduction: drop ``big`` rows whose key cannot exist in
    ``small`` using a Bloom filter built from the small side — the
    pre-shuffle prune that turns a fact⋈dim join at 100 TB from
    "shuffle everything" into "shuffle the ~matching fraction". False
    positives pass through (the later join removes them); false
    negatives are impossible.

    Mechanics: ``hashes`` positions per key from disjoint md5 hex
    slices, OR-ed into an ``m_bits`` bitmap ON THE EXECUTORS (explode →
    distinct bit positions → word OR aggregation); only the ≤ m/64
    set WORDS reach the driver, which folds them into a literal
    array<long> membership expression — a narrow per-row test with ONE
    md5 evaluation (staged once per row, each check slices its own hex
    window) and no join, no broadcast variable machinery.
    Deterministic md5 hashing end-to-end, so the surviving row set
    (false positives included) is engine-independent and
    oracle-checkable. Size m_bits ≈ 10× the small side's distinct keys
    for ~1% false positives; the literal array is m_bits/32 longs
    (4096 bits → 128 longs — scale m_bits with driver comfort, it's
    one constant-folded plan literal; words are 32-bit so shifts stay
    in-range for any engine's checked arithmetic)."""
    def pos_sql(key: str, j: int) -> str:
        # hash j = hex slice [1+8j, 8+8j) of md5 → 32-bit int → mod m
        return (
            f"cast(conv(substring(md5(cast({key} as string)), "
            f"{1 + 8 * j}, 8), 16, 10) as bigint) % {m_bits}"
        )

    bits = (
        small.selectExpr(
            f"explode(array({', '.join(pos_sql(small_key, j) for j in range(hashes))})) AS _bit"
        )
        .distinct()
        .selectExpr(
            # 32-bit words: max shift 31 keeps the mask inside BIGINT
            # in every engine (a checked 1<<63 overflows signed 64)
            "cast(_bit / 32 as int) AS _word",
            "shiftleft(cast(1 as bigint), cast(_bit % 32 as int)) AS _mask",
        )
        .groupBy("_word")
        .agg(F.expr("bit_or(_mask)").alias("_bits"))
        .collect()
    )
    words = [0] * (m_bits // 32)
    for r in bits:
        words[r["_word"]] = r["_bits"]
    # one md5 per row, staged; each check slices its own 8 hex chars.
    # The all-literal array constant-folds to a single plan value
    # instead of being re-embedded once per check.
    arr = F.array(*[F.lit(int(w)).cast("long") for w in words])
    probe = big.withColumn("_bf_h", F.md5(F.col(big_key).cast("string")))
    pcols = [f"_bf_p{j}" for j in range(hashes)]
    for j, pc in enumerate(pcols):
        probe = probe.withColumn(
            pc,
            F.conv(F.substring("_bf_h", 1 + 8 * j, 8), 16, 10).cast("bigint")
            % m_bits,
        )
    cond = None
    for pc in pcols:
        pos = F.col(pc)
        word = F.element_at(arr, (pos / 32).cast("int") + 1)
        # F.shiftleft takes a python int for numBits; expr() for the
        # column-valued shift amount
        mask = F.expr(f"shiftleft(cast(1 as bigint), cast({pc} % 32 as int))")
        c = word.bitwiseAND(mask) != 0
        cond = c if cond is None else (cond & c)
    return probe.where(cond).drop("_bf_h", *pcols)


def decimal_moments(xy: DataFrame, dec: str = "decimal(27,6)") -> DataFrame:
    """1-row moment sums (n, sx, sy, sxx, sxy, syy) over columns
    ``x``/``y`` with DECIMAL addends — the order-independent base under
    every OLS / Pearson diagnostic here (``zipf_fit``, degree
    assortativity, seasonal trend fits). Decimal partial sums make the
    totals bit-identical across engines and partitionings; the final
    cast back to double happens once per total, not per row.

    Plan: map-side partial aggregation + a 1-row reduce — no shuffle of
    the input beyond the single agg exchange."""
    x, y = F.col("x"), F.col("y")
    return xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
        F.sum((y * y).cast(dec)).cast("double").alias("syy"),
    )


def exact_median(
    df: DataFrame,
    col: str,
    bins: int = 2048,
    max_pass2: int = 1_000_000,
) -> float:
    """EXACT median of a numeric column with zero global sorts — the
    scalable alternative to sort-the-world or approximate percentiles
    when the answer must be exact (SLA thresholds, billing cutoffs).

    Pass 1: (min, max, count) + a ``bins``-bucket histogram (one agg
    each, map-side combined). The driver walks the 2048-row histogram
    to find which bucket(s) hold order statistics ceil(n/2) and
    ceil((n+1)/2). Pass 2: only rows in those buckets are pulled
    through a sort capped at the bucket's cardinality (orderBy+limit =
    TakeOrdered, never a full shuffle sort). Even counts average the
    two middle values — the same interpolation DuckDB's median() uses,
    so the result is oracle-exact.

    Degenerate distributions (99% of rows one value, heavy point
    masses): a bucket holding > ``max_pass2`` rows is NOT TakeOrdered —
    that would heap ~n/2 rows per map task and on the driver merge.
    Instead the search RECURSES into that bucket with a fresh
    histogram over its narrowed [lo, hi], each level shrinking the
    range ×``bins``; pass 2 only runs once the candidate set is under
    the bound (or the range collapses to a single value / float
    precision exhausts, whichever first). Cost: one extra histogram
    aggregate per level, ~log_bins(n/max_pass2) levels."""
    row = df.agg(
        F.min(col).alias("lo"),
        F.max(col).alias("hi"),
        F.count(col).alias("n"),
    ).first()
    # null min/max = zero non-null rows; check BEFORE float() so the
    # intended error fires instead of a TypeError on float(None)
    if row["lo"] is None or int(row["n"]) == 0:
        raise ValueError("exact_median of an empty column")
    lo, hi, n = float(row["lo"]), float(row["hi"]), int(row["n"])
    if lo == hi:
        return lo
    c = F.col(col)
    k1, k2 = (n + 1) // 2, (n + 2) // 2  # 1-based middle order stats
    sub = df.where(c.isNotNull())
    vals = _order_stats(sub, c, sorted({k1, k2}), lo, hi, bins, max_pass2)
    return (vals[k1] + vals[k2]) / 2.0


def _order_stats(
    sub: DataFrame,
    c,
    ks: list[int],
    lo: float,
    hi: float,
    bins: int,
    max_pass2: int,
) -> dict[int, float]:
    """Exact order statistics ``ks`` (1-based, sorted) of the rows in
    ``sub`` whose values span [lo, hi] — histogram bisection with
    recursion into over-``max_pass2`` buckets (see exact_median).

    Termination is by FLOAT RESOLUTION, not a fixed depth cap: each
    level shrinks the range ×bins, so recursion stops either because
    the bucket fits ``max_pass2`` or because the narrowed range spans
    fewer than ``bins`` representable doubles — at which point exact
    per-value counts (≤ ~bins rows) resolve the ranks. A fixed cap
    would fall back to TakeOrdered with limit = local rank for deeper
    point masses, heaping ~n/2 rows per task — the blow-up this
    function exists to avoid."""
    if lo == hi:
        return {k: lo for k in ks}
    width = (hi - lo) / bins
    if width <= 0.0:
        # histogram width underflowed: [lo, hi] spans fewer than
        # ``bins`` representable doubles, so at most ~bins distinct
        # values remain no matter how many ROWS span them. Exact
        # per-value counts are a bounded aggregate (≤ ~bins rows to
        # the driver) — walk them for the ranks instead of TakeOrdered,
        # whose limit would be the local rank (~n/2) for a point mass.
        # (Also dodges the (c-lo)/0 division the bucket expr would hit.)
        out0: dict[int, float] = {}
        vrows = (
            sub.groupBy(c.alias("_v"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .orderBy("_v")
            .collect()
        )
        cum_v = 0
        ki0 = 0
        for r in vrows:
            cum_v += r["_c"]
            while ki0 < len(ks) and cum_v >= ks[ki0]:
                out0[ks[ki0]] = float(r["_v"])
                ki0 += 1
            if ki0 == len(ks):
                break
        return out0
    bucket = F.least(
        F.lit(bins - 1), F.floor((c - F.lit(lo)) / F.lit(width))
    ).cast("int")
    hist = {
        r["_b"]: r["_c"]
        for r in sub.groupBy(bucket.alias("_b"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    }
    # group the needed ranks by the bucket that holds them
    per_bucket: dict[int, tuple[int, list[int]]] = {}
    cum = 0
    ki = 0
    for b in range(bins):
        cnt = hist.get(b, 0)
        while ki < len(ks) and cum + cnt >= ks[ki]:
            per_bucket.setdefault(b, (cum, []))[1].append(ks[ki])
            ki += 1
        cum += cnt
        if ki == len(ks):
            break
    if ki < len(ks):
        raise AssertionError("order statistic beyond histogram total")
    out: dict[int, float] = {}
    for b, (cum_b, bks) in per_bucket.items():
        cnt = hist[b]
        bsub = sub.where(bucket == F.lit(b))
        if cnt > max_pass2:
            # recurse on the bucket's ACTUAL [min, max] — each level
            # shrinks the range ×bins until the bucket fits max_pass2
            # or the width-underflow guard above resolves the ranks
            # from bounded per-value counts (float-resolution stop;
            # no fixed depth cap, see docstring)
            brow = bsub.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).first()
            inner = _order_stats(
                bsub,
                c,
                [k - cum_b for k in bks],
                float(brow["lo"]),
                float(brow["hi"]),
                bins,
                max_pass2,
            )
            out.update({k: inner[k - cum_b] for k in bks})
            continue
        # TakeOrdered to the deepest needed local rank, then the top
        # (rmax - rmin + 1) of those are the needed value(s) — at most
        # 2 rows reach the driver from the second limit
        rmin, rmax = bks[0] - cum_b, bks[-1] - cum_b
        top = (
            bsub.select(c.alias("_v"))
            .orderBy("_v")
            .limit(rmax)
            .orderBy(F.col("_v").desc())
            .limit(rmax - rmin + 1)
            .collect()
        )
        for k in bks:
            out[k] = float(top[rmax - (k - cum_b)]["_v"])
    return out


def pareto_frontier_2d(
    df: DataFrame,
    minimize: str,
    maximize: str,
    broadcast_bounds: bool = True,
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows no other row beats on BOTH
    dimensions — ``minimize`` lower-or-equal AND ``maximize``
    higher-or-equal with at least one strict. Exact ties on both
    dimensions are mutually non-dominating; all tied rows survive.

    Plan/scale: no pairwise work. One groupBy on the minimize value
    (max of the maximize dim per group), one window over the DISTINCT
    minimize values (prefix max, |distinct| rows — the only serial
    step), then a join back. A row survives iff it holds its group's
    max AND strictly beats the best maximize seen at any cheaper
    minimize value. The bounds table is |distinct minimize| rows —
    broadcast by default; pass ``broadcast_bounds=False`` when the
    key cardinality approaches the row count (the join then shuffles
    on the minimize value, still no pair space)."""
    gmax = df.groupBy(minimize).agg(F.max(maximize).alias("_gmax"))
    w = (
        Window.orderBy(F.col(minimize).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bounds = gmax.withColumn("_pmax", F.max("_gmax").over(w))
    if broadcast_bounds:
        bounds = F.broadcast(bounds)
    return (
        df.join(bounds, on=minimize, how="inner")
        .where(
            (F.col(maximize) == F.col("_gmax"))
            & (F.col("_pmax").isNull() | (F.col(maximize) > F.col("_pmax")))
        )
        .drop("_gmax", "_pmax")
    )


def pareto_frontier(
    df: DataFrame,
    minimize: list[str] | tuple = (),
    maximize: list[str] | tuple = (),
) -> DataFrame:
    """d-dimensional Pareto frontier (skyline) for d >= 2 — the
    MapReduce-skyline two-phase shape: a LOCAL skyline per partition
    (dominated rows can only be dominated harder globally, so the
    prefilter is lossless), then a GLOBAL pairwise verify over the
    surviving candidates only.

    Plan/scale: phase 1 is an Arrow ``mapInPandas`` pass — the one
    justified non-Catalyst step, a sorted sweep per batch keeping a
    running frontier (output is partition-size independent: skylines
    are O(small) for correlated dims). Phase 2 self-joins ONLY the
    candidate set (broadcast — candidates ≪ rows by construction);
    dominance is an EXISTS semi-join, survivors an anti-join. The
    full table is never paired. Ties duplicated across rows all
    survive, matching the NOT EXISTS definition."""
    import pandas as pd  # noqa: F401

    dims = [(c, 1.0) for c in minimize] + [(c, -1.0) for c in maximize]
    if len(dims) < 2:
        raise ValueError("need at least two dimensions")
    # Null contract: a NULL in any skyline dimension is incomparable —
    # NaN in the Arrow local pass and NULL in the Catalyst verify make
    # every comparison false, so such a row could never be dominated
    # and would always pollute the frontier. Drop them at entry.
    work = df.na.drop(subset=[c for c, _ in dims])
    dcols = [f"_d{i}" for i in range(len(dims))]
    for (c, sign), d in zip(dims, dcols):
        work = work.withColumn(d, F.col(c).cast("double") * F.lit(sign))

    schema = work.schema

    def _local(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            arr = pdf[dcols].to_numpy(dtype="float64")
            order = np.lexsort(arr.T[::-1])
            keep: list[int] = []
            frontier: list = []
            for idx in order:
                row = arr[idx]
                if frontier:
                    fr = np.asarray(frontier)
                    dom = (fr <= row).all(axis=1) & (fr < row).any(axis=1)
                    if bool(dom.any()):
                        continue
                keep.append(idx)
                frontier.append(row)
            yield pdf.iloc[sorted(keep)]

    cand = work.mapInPandas(_local, schema=schema)
    cand = cand.transform(pin_lazy)

    a = cand.alias("a")
    b = F.broadcast(cand.select(*dcols).alias("b"))
    leq = [F.col(f"a.{d}") >= F.col(f"b.{d}") for d in dcols]
    lt = [F.col(f"a.{d}") > F.col(f"b.{d}") for d in dcols]
    all_leq = leq[0]
    for c in leq[1:]:
        all_leq = all_leq & c
    any_lt = lt[0]
    for c in lt[1:]:
        any_lt = any_lt | c
    dominated = a.join(b, all_leq & any_lt, "leftsemi")
    return (
        cand.join(dominated, dcols, "leftanti")
        .drop(*dcols)
    )


def winsorize(
    df: DataFrame,
    group: str,
    value: str,
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization: values clipped to the group's exact
    [lo, hi] percentile band (linear-interpolation percentiles, the
    same exact order statistics as group_percentiles) — the robust
    preprocessing step that tames heavy-tailed features without
    dropping rows. One group-sized aggregate broadcast back onto the
    fact rows; at 100 TB swap the exact percentile for
    percentile_approx, same shape."""
    out_col = out_col or f"{value}_w"
    bounds = df.groupBy(group).agg(
        F.expr(f"percentile({value}, {lo})").alias("_lo"),
        F.expr(f"percentile({value}, {hi})").alias("_hi"),
    )
    return (
        df.join(F.broadcast(bounds), group)
        .withColumn(
            out_col,
            F.least(F.greatest(F.col(value), F.col("_lo")), F.col("_hi")),
        )
        .drop("_lo", "_hi")
    )


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    rank_col: str = "rank",
    n_col: str | None = "n",
) -> DataFrame:
    """Per-group consecutive rank (``row_number`` semantics: 1..n_g in
    ``order_cols`` order within each ``group_cols`` group) plus the
    group size — WITHOUT ``Window.partitionBy(group)``.

    Why not a window: ``partitionBy`` on a low-cardinality group
    (market segment, language, event type) hashes the ENTIRE table
    into |groups| reducer tasks — at the 100-TB design point one task
    sorts billions of rows. Here the table is range-partitioned on
    (group, order) instead, so a huge group spans MANY partitions and
    the sort stays local and balanced; per-group offsets come from a
    driver-bounded stats pass.

    Plan (same two-pass layout-pinning discipline as
    ``id_manager.zip_with_index``):

    1. ``repartitionByRange(group ∪ order)`` + local sort +
       ``localCheckpoint`` (pins the layout between the two passes —
       AQE/task retry must not re-balance).
    2. ``monotonically_increasing_id`` exposes (partition id, local row
       number). A tiny aggregate — one row per (partition, group),
       ≤ numPartitions + |groups| rows because a group's rows are
       contiguous under the range partitioner — is collected and turned
       into per-(partition, group) cumulative offsets + group totals.
    3. Offsets broadcast-join back on (partition, group) — a table the
       driver just materialized, so the broadcast is size-known, never
       estimate-gated. rank = offset + (local_rn − group_first_rn) + 1.

    Null-safe on group values (NULL forms its own group, like
    ``groupBy``). For HIGH-cardinality groups the plain window is the
    right tool — groups hash-spread evenly and no single reducer gets
    more than ~|table|/|groups| rows."""
    cols = [*group_cols, *order_cols]
    d = (
        df.repartitionByRange(*[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .transform(pin)
    )
    mid = F.monotonically_increasing_id()
    tagged = d.withColumn("_gr_pid", F.shiftright(mid, 33).cast("int")).withColumn(
        "_gr_rn", mid.bitwiseAND(F.lit((1 << 33) - 1))
    )
    stats = (
        tagged.groupBy("_gr_pid", *group_cols)
        .agg(F.count(F.lit(1)).alias("_gr_c"), F.min("_gr_rn").alias("_gr_first"))
        .collect()
    )
    totals: dict[tuple, int] = {}
    for r in stats:
        key = tuple(r[c] for c in group_cols)
        totals[key] = totals.get(key, 0) + r["_gr_c"]
    running: dict[tuple, int] = {}
    rows = []
    for r in sorted(stats, key=lambda r: r["_gr_pid"]):
        key = tuple(r[c] for c in group_cols)
        rows.append(
            (
                r["_gr_pid"],
                *key,
                r["_gr_first"],
                running.get(key, 0),
                totals[key],
            )
        )
        running[key] = running.get(key, 0) + r["_gr_c"]
    spark = df.sparkSession
    from pyspark.sql import types as T

    off_schema = T.StructType(
        [T.StructField("_gr_pid", T.IntegerType())]
        + [tagged.schema[c] for c in group_cols]
        + [
            T.StructField("_gr_first", T.LongType()),
            T.StructField("_gr_off", T.LongType()),
            T.StructField("_gr_n", T.LongType()),
        ]
    )
    off_df = spark.createDataFrame(rows, off_schema)
    aliased = off_df.select(
        "_gr_pid",
        *[F.col(c).alias(f"_gr_g_{c}") for c in group_cols],
        "_gr_first",
        "_gr_off",
        "_gr_n",
    )
    cond = tagged["_gr_pid"] == aliased["_gr_pid"]
    for c in group_cols:
        cond = cond & tagged[c].eqNullSafe(aliased[f"_gr_g_{c}"])
    out = tagged.join(F.broadcast(aliased), cond).withColumn(
        rank_col,
        (F.col("_gr_off") + (F.col("_gr_rn") - F.col("_gr_first")) + 1).cast(
            "long"
        ),
    )
    keep = df.columns + [rank_col] + ([n_col] if n_col else [])
    if n_col:
        out = out.withColumn(n_col, F.col("_gr_n"))
    return out.select(*keep)


def grouped_lead(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    lead_cols: list[str] | None = None,
    suffix: str = "_next",
) -> DataFrame:
    """``lead(col).over(partitionBy(group).orderBy(order))`` for
    LOW-cardinality groups — the consecutive-pairing step (next event,
    next document, next version) without hashing the whole table into
    |groups| reducer tasks.

    Built on ``grouped_rank``: rows get their per-group consecutive
    rank from the balanced range-partitioned pass, then each row
    equi-joins its successor on (group, rank+1). The join keys include
    the rank, so their cardinality is the row count — hash
    partitioning stays balanced no matter how few groups exist. Last
    row per group keeps nulls (left-outer), matching ``lead``.

    Cost vs the window form: the window is one (skewed) shuffle; this
    is one balanced range shuffle + one balanced hash join — the same
    trade as ``grouped_rank``, paid only when the group cardinality is
    low enough that the window's per-group task would not fit."""
    lead_cols = lead_cols or [c for c in df.columns if c not in group_cols]
    r = grouped_rank(df, group_cols, order_cols, rank_col="_gl_rank", n_col=None)
    nxt = r.select(
        *[F.col(c).alias(f"_gl_g_{c}") for c in group_cols],
        (F.col("_gl_rank") - 1).alias("_gl_nrank"),
        *[F.col(c).alias(f"{c}{suffix}") for c in lead_cols],
    )
    # eqNullSafe on the group keys: NULL forms its own group under the
    # window form, so its rows must pair too
    cond = r["_gl_rank"] == nxt["_gl_nrank"]
    for c in group_cols:
        cond = cond & r[c].eqNullSafe(nxt[f"_gl_g_{c}"])
    joined = r.join(nxt, cond, "left")
    return joined.select(
        *df.columns, *[f"{c}{suffix}" for c in lead_cols]
    )


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top: int = 10,
) -> DataFrame:
    """Join/agg skew diagnostics: the ``top`` heaviest keys with their
    row count, share of the table, and ratio to the mean key load —
    the numbers that decide whether a join needs salting (ratio >> 1
    on the probe side) or AQE skew handling, and what salt factor to
    pick (≈ the ratio).

    Plan/scale: one hash aggregate on the keys (the same shuffle the
    diagnosed join would pay).  The counts table is KEY-CARDINALITY
    sized — and the operator exists precisely for high-cardinality keys
    (user_id, doc_id: billions of distinct values at 100 TB) — so the
    whole-table total and key count are computed as a 1-ROW aggregate
    and crossJoin-broadcast back, never via ``Window.partitionBy()``
    (which would funnel every key's row through ONE task).  The only
    single-partition step left is the final top-``top`` TakeOrdered,
    whose input is bounded by ``top`` rows per map task."""
    counts = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(pin_lazy)
    )
    globals_ = counts.agg(
        F.sum("n").alias("_sk_total"), F.count(F.lit(1)).alias("_sk_keys")
    )
    enriched = counts.crossJoin(F.broadcast(globals_)).select(
        *key_cols,
        "n",
        F.round(
            F.col("n").cast("double") / F.col("_sk_total").cast("double"), 6
        ).alias("share"),
        F.round(
            F.col("n").cast("double")
            / (
                F.col("_sk_total").cast("double")
                / F.col("_sk_keys").cast("double")
            ),
            6,
        ).alias("ratio_to_mean"),
    )
    return enriched.orderBy(F.col("n").desc(), *key_cols).limit(top)


def distributed_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    prefix: str = "cum_",
) -> DataFrame:
    """Exact running totals in global ``order_cols`` order WITHOUT a
    single-partition window — ``sum(x) OVER (ORDER BY ...)`` funnels
    the whole table through ONE task; this keeps the same semantics
    with balanced tasks (the cumulative-SUM generalization of
    ``zip_with_index``'s cumulative COUNT).

    Plan (two-pass layout pinning, as zip_with_index/grouped_rank):
    range-partition + local sort + localCheckpoint; per-partition value
    totals collect to the driver (numPartitions rows) and become
    broadcast offsets; the within-partition running total is a window
    PARTITIONED BY the physical partition id — its key cardinality is
    the partition count and each key's rows are one range partition, so
    the reducer load is balanced by construction. cum_<col> =
    local running total + the partition's offset.

    Pass decimal-typed value columns for engine-exact totals (double
    accumulation is order-dependent).

    FRAME SEMANTICS — this is a ROWS frame, NOT SQL's default RANGE
    frame: plain ``sum(x) OVER (ORDER BY ...)`` gives every row tied
    on the order key the TIE-GROUP total (RANGE ... CURRENT ROW spans
    all peers), whereas this operator gives each tied row its own
    running total in local-sort order. With duplicate ``order_cols``
    values the per-row outputs therefore differ from the plain-SQL
    window (and are nondeterministic across runs, since ties land in
    shuffle order). Include a unique id in ``order_cols`` to make the
    two semantics coincide row-for-row — every in-repo caller does."""
    cols = list(order_cols)
    d = (
        df.repartitionByRange(*[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .transform(pin)
    )
    mid = F.monotonically_increasing_id()
    tagged = d.withColumn("_cs_pid", F.shiftright(mid, 33).cast("int"))
    totals = (
        tagged.groupBy("_cs_pid")
        .agg(*[F.sum(c).alias(c) for c in value_cols])
        .collect()
    )
    running = {c: None for c in value_cols}
    rows = []
    for r in sorted(totals, key=lambda r: r["_cs_pid"]):
        rows.append((r["_cs_pid"], *[running[c] for c in value_cols]))
        for c in value_cols:
            v = r[c]
            if v is not None:
                running[c] = v if running[c] is None else running[c] + v
    spark = df.sparkSession
    from pyspark.sql import types as T

    agg_schema = tagged.groupBy("_cs_pid").agg(
        *[F.sum(c).alias(c) for c in value_cols]
    ).schema
    off_schema = T.StructType(
        [T.StructField("_cs_pid", T.IntegerType())]
        + [
            T.StructField(f"_cs_off_{c}", agg_schema[c].dataType)
            for c in value_cols
        ]
    )
    off_df = spark.createDataFrame(rows, off_schema)
    w = (
        Window.partitionBy("_cs_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = tagged.join(F.broadcast(off_df), "_cs_pid")
    for c in value_cols:
        local = F.sum(c).over(w)
        off = F.col(f"_cs_off_{c}")
        # window-sum semantics: NULL only while NO non-null value has
        # been seen yet GLOBALLY — a null local prefix after a non-null
        # earlier partition must yield the offset, not NULL
        out = out.withColumn(
            f"{prefix}{c}",
            F.when(local.isNull() & off.isNull(), F.lit(None)).otherwise(
                F.coalesce(local, F.lit(0)) + F.coalesce(off, F.lit(0))
            ),
        )
    return out.select(*df.columns, *[f"{prefix}{c}" for c in value_cols])
