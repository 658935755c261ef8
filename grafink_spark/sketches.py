"""Distributed cardinality sketches: HyperLogLog and KMV, deterministic.

Spark's built-in ``approx_count_distinct`` is HLL++ with an
implementation-defined hash, so its answers can't be replayed by
another engine. These sketches use md5-derived 60-bit hashes and pure
integer register math, so Spark and the DuckDB oracle compute
bit-identical registers and (up to one final double division) identical
estimates — an *auditable* approximate-distinct, which matters when a
100 TB pipeline's dedup/reporting numbers must be reproducible across
engines.

Scale design: both sketches are classic one-pass, mergeable
aggregations — map-side partial aggregation collapses each partition
to ≤ m register rows (HLL) or ≤ k hash rows (KMV) before the single
shuffle on the group key. No row-at-a-time Python, no second pass.
Register math stays in integers (``sum(1 << (RHO_MAX - rho))``; the
sum of ≤ m such terms fits a 64-bit long exactly) so results don't
depend on floating-point reduction order across partitions.

HLL: h = 60-bit md5 prefix; bucket = h mod m; rho = leading-zero count
of the remaining 50-bit word + 1; E = alpha·m²/Z with the standard
small-range linear-counting correction (Flajolet et al. 2007).
KMV: E = (k-1)·2^60 / h_(k), the k-th smallest distinct hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from grafink_spark.util import pin, pin_lazy

# 60-bit hash: 15 md5 hex chars — fits a signed 64-bit long in every
# engine (the full 64-bit prefix would overflow DuckDB's ::BIGINT).
HASH_BITS = 60
B = 10  # bucket bits
M = 1 << B  # 1024 registers
W_BITS = HASH_BITS - B  # 50-bit rho word
RHO_MAX = W_BITS + 1  # rho when the word is all zeros


def hash60(col: Column) -> Column:
    """Deterministic 60-bit hash of a value's string form, identical in
    Spark and DuckDB: first 15 hex chars of md5, base-16 → long."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_registers(df: DataFrame, group: str, value: str) -> DataFrame:
    """Per-group HLL register table (group, _bucket, _max_rho) — the
    sketch STATE. Registers are mergeable (max per bucket), so
    incremental maintenance is exact: keep the register table per
    partition/batch, ``hll_merge`` new batches in, estimate on demand —
    the merged estimate is identical to a from-scratch pass over the
    union. One map-side-combined shuffle on (group, bucket)."""
    h = hash60(F.col(value))
    # integer shift, NOT double division — h uses 60 bits and a double
    # round-trip would corrupt the low bits of the rho word
    w = F.shiftright(h, B)
    return (
        df.select(
            F.col(group),
            (h % M).alias("_bucket"),
            # rho = RHO_MAX - bit_length(w); bin() of a positive long has
            # no leading zeros in both engines, so its length IS bit_length
            F.when(w > 0, RHO_MAX - F.length(F.bin(w)))
            .otherwise(F.lit(RHO_MAX))
            .alias("_rho"),
        )
        .groupBy(group, "_bucket")
        .agg(F.max("_rho").alias("_max_rho"))
    )


def hll_merge(group: str, *register_tables: DataFrame) -> DataFrame:
    """Merge register tables (union + max per bucket) — the exact,
    order-insensitive combine that makes the sketch incremental."""
    merged = register_tables[0]
    for t in register_tables[1:]:
        merged = merged.unionByName(t)
    return merged.groupBy(group, "_bucket").agg(
        F.max("_max_rho").alias("_max_rho")
    )


def hll_estimate(
    regs: DataFrame, group: str, out: str = "hll_est"
) -> DataFrame:
    """Estimate from a register table (standard bias-corrected raw
    estimate + linear-counting small-range correction)."""
    # Z scaled by 2^RHO_MAX kept in exact integer arithmetic: present
    # buckets contribute 2^(RHO_MAX - max_rho), absent ones 2^RHO_MAX
    alpha_m2 = _alpha(M) * M * M
    scale = float(1 << RHO_MAX)
    agg = regs.groupBy(group).agg(
        F.sum(F.expr(f"shiftleft(1L, {RHO_MAX} - _max_rho)")).alias("_z_present"),
        F.count(F.lit(1)).alias("_nb"),
    )
    z_int = F.col("_z_present") + (M - F.col("_nb")) * F.lit(1 << RHO_MAX)
    raw = F.lit(alpha_m2 * scale) / z_int.cast("double")
    zeros = (M - F.col("_nb")).cast("double")
    est = F.when(
        (raw <= 2.5 * M) & (zeros > 0), F.lit(float(M)) * F.log(F.lit(float(M)) / zeros)
    ).otherwise(raw)
    return agg.select(F.col(group), F.round(est, 2).alias(out))


def hll_distinct(
    df: DataFrame, group: str, value: str, out: str = "hll_est"
) -> DataFrame:
    """Per-group HLL cardinality estimate (m=1024, ±~3.25%)."""
    return hll_estimate(hll_registers(df, group, value), group, out)


def kmv_distinct(
    df: DataFrame, group: str, value: str, k: int = 64, out: str = "kmv_est"
) -> DataFrame:
    """Per-group KMV (bottom-k) estimate: (k-1)·2^60 / k-th smallest
    distinct hash. One distinct + one window shuffle, both on the group
    key; the rank prunes to k rows per group before the final agg."""
    h = hash60(F.col(value))
    w = Window.partitionBy(group).orderBy(F.col("_h").asc())
    ranked = (
        df.select(F.col(group), h.alias("_h"))
        .distinct()
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
    )
    kth = ranked.groupBy(group).agg(
        F.max("_h").alias("_hk"), F.count(F.lit(1)).alias("_n")
    )
    # groups with < k distinct values: the bottom-k set IS the exact
    # distinct set
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float((k - 1)) * float(1 << HASH_BITS)) / F.col("_hk").cast("double")
    )
    return kth.select(F.col(group), F.round(est, 2).alias(out))


def kmv_join_estimate(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str,
    k: int = 256,
    out: str = "join_est",
) -> DataFrame:
    """1-row estimate of the inner-join row count |A ⋈_key B| from two
    bottom-k key sketches — the pre-join cardinality check a query
    planner (or a human sizing a 100 TB join) wants WITHOUT running
    the join.

    Method (KMV sampling): per side, aggregate exact per-key counts
    (one shuffle each — the only corpus-scale work), keep the k keys
    with the smallest 60-bit hashes. τ = k-th smallest hash of the
    UNION sketch. Keys hashing ≤ τ form a uniform sample of the key
    union, so

        |A ⋈ B| ≈ (Σ_{sampled x ∈ A∩B} a_x·b_x) · D_union / k

    with D_union the KMV distinct estimate (exact when the union fits
    in k — then the sample is complete and the estimate IS the true
    size). Deterministic md5 hashing end-to-end: the estimate itself
    is reproducible and oracle-checkable, like the HLL/KMV sketches
    above. An EMPTY result means no sampled key was shared — the
    estimate is 0 (or the join is far smaller than D_union/k)."""
    sa = (
        a.groupBy(F.col(key_a).alias("_key"))
        .agg(F.count(F.lit(1)).alias("_ca"))
        .select("_key", "_ca", hash60(F.col("_key")).alias("_h"))
        .orderBy("_h")
        .limit(k)
    )
    sb = (
        b.groupBy(F.col(key_b).alias("_key"))
        .agg(F.count(F.lit(1)).alias("_cb"))
        .select("_key", "_cb", hash60(F.col("_key")).alias("_hb"))
        .orderBy("_hb")
        .limit(k)
    )
    union_stats = (
        sa.select("_h")
        .unionByName(sb.select(F.col("_hb").alias("_h")))
        .distinct()
        .orderBy("_h")
        .limit(k)
        .agg(F.max("_h").alias("_tau"), F.count(F.lit(1)).alias("_nu"))
    )
    sample = (
        sa.join(sb.drop("_hb"), "_key")
        .crossJoin(F.broadcast(union_stats))
        .where(F.col("_h") <= F.col("_tau"))
    )
    d_union = F.lit(float(k - 1) * float(1 << HASH_BITS)) / F.col("_tau").cast(
        "double"
    )
    est = F.when(
        F.col("_nu") < k, F.sum(F.col("_ca") * F.col("_cb")).cast("double")
    ).otherwise(
        F.sum(F.col("_ca") * F.col("_cb")).cast("double")
        * F.first(d_union)
        / F.lit(float(k))
    )
    return sample.groupBy("_nu").agg(
        F.round(est, 2).alias(out),
        F.count(F.lit(1)).alias("n_sampled_keys"),
    ).select(out, "n_sampled_keys")


# ------------------------------------------------- count-min sketch

CMS_DEPTH = 4
CMS_WIDTH = 512


def cms_hash(col: Column, row: int, width: int = CMS_WIDTH) -> Column:
    """Row-``row`` column index for a value: 60-bit md5 hash of
    "row:value" mod width — deterministic and engine-identical."""
    return hash60(F.concat(F.lit(f"{row}:"), col.cast("string"))) % width


def cms_registers(
    df: DataFrame,
    value: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch register table (_row, _col, _cnt) over a value
    stream (Cormode & Muthukrishnan, 2005) — the sketch STATE. Fixed
    depth×width integer registers regardless of stream size; registers
    merge by SUM, so per-partition/per-batch sketches combine into
    exactly the full-stream sketch (the mergeable-state property HLL
    registers have for distinct counts, here for frequencies). ONE scan
    of the stream (each element emits its depth cells from an inline
    array — not a depth-way union re-reading the source) and one
    map-side-combined shuffle of ≤ depth·width rows."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("_row"),
                cms_hash(F.col(value), r, width).alias("_col"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("_cell"))
        .select("_cell._row", "_cell._col")
        .groupBy("_row", "_col")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )


def cms_point_estimates(
    regs: DataFrame,
    items: DataFrame,
    value: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query every row of ``items``: estimate = min over the
    depth rows of the addressed registers. Never underestimates
    (conservative by construction); overshoot is bounded by collisions
    (≤ e·N/width with prob 1−e^−depth). One scan of the probes (inline
    cell array, as in cms_registers) broadcast-joined against the ≤
    depth·width register table — no wide shuffle."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("_row"),
                cms_hash(F.col(value), r, width).alias("_col"),
            )
            for r in range(depth)
        ]
    )
    probe = items.select(F.col(value), F.explode(cells).alias("_cell")).select(
        value, "_cell._row", "_cell._col"
    )
    return (
        probe.join(F.broadcast(regs), ["_row", "_col"], "left")
        .select(value, F.coalesce("_cnt", F.lit(0)).alias("_est"))
        .groupBy(value)
        .agg(F.min("_est").alias("cms_est"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    value: str,
    phi: tuple[int, int] = (1, 100),
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Heavy hitters by CMS estimate: values whose sketch estimate is
    ≥ (num/den)·N, with the exact count alongside (the conservative
    guarantee est ≥ exact means NO true heavy hitter is missed — the
    sketch can only add false positives near the threshold). The
    threshold compare is exact integer arithmetic: den·est ≥ num·N.
    The stream is read twice (registers + exact counts); N comes from
    the vocabulary-sized count table, not a third stream pass."""
    num, den = phi
    regs = cms_registers(df, value, depth, width)
    distinct = df.groupBy(value).agg(
        F.count(F.lit(1)).alias("exact_cnt")
    ).transform(pin_lazy)
    n = distinct.agg(F.sum("exact_cnt")).collect()[0][0] or 0
    est = cms_point_estimates(
        regs, distinct.select(value), value, depth, width
    )
    return (
        est.join(distinct, value)
        .where(F.lit(den) * F.col("cms_est") >= F.lit(num) * F.lit(n))
        .select(value, "cms_est", "exact_cnt")
    )


# ------------------------------------------- histogram quantile sketch

HIST_BINS = 256


def hist_registers(
    df: DataFrame,
    value: str,
    bins: int = HIST_BINS,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram register table (_bin, _cnt) over a numeric
    column — the mergeable quantile-sketch state completing the sketch
    family (HLL: distinct, KMV: join size, CMS: frequency, this:
    quantiles). ``lo``/``hi`` fix the bin domain; when omitted they are
    taken from an exact min/max pass (pass them explicitly for
    incremental use, so every batch bins identically). Registers merge
    by SUM; quantile error is bounded by one bin width. Values are
    clamped into the edge bins, so out-of-domain batch values never
    drop."""
    if lo is None or hi is None:
        row = df.agg(
            F.min(value).alias("_lo"), F.max(value).alias("_hi")
        ).collect()[0]
        lo = float(row._lo) if lo is None else lo
        hi = float(row._hi) if hi is None else hi
    width = (hi - lo) / bins
    # constant column: width = 0 would make the division NULL and lose
    # every row — a degenerate domain puts all mass in bin 0 (and
    # hist_quantiles then reports est = lo for every q, exactly right)
    b = (
        F.lit(0).cast("long")
        if width == 0
        else F.floor((F.col(value) - F.lit(lo)) / F.lit(width)).cast("long")
    )
    return (
        df.select(
            F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1)).alias("_bin")
        )
        .groupBy("_bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )


def hist_merge(*register_tables: DataFrame) -> DataFrame:
    """Merge histogram register tables (union + sum per bin) — exact,
    order-insensitive."""
    merged = register_tables[0]
    for t in register_tables[1:]:
        merged = merged.unionByName(t)
    return merged.groupBy("_bin").agg(F.sum("_cnt").alias("_cnt"))


def hist_quantiles(
    regs: DataFrame,
    qs: list[float],
    bins: int = HIST_BINS,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """(q, est) quantile estimates from a register table: locate the
    bin where the cumulative count crosses q·N, interpolate linearly
    inside it. The ≤ bins-row register table computes cumulative sums
    with one trivial window — never touches the data again. Every
    arithmetic step is a fixed IEEE expression over exact integer
    counts, so estimates are engine-identical."""
    width = (hi - lo) / bins
    # regs feeds both the cumulative window and the N aggregate — pin
    # it so the upstream stream scan runs once
    regs = regs.transform(pin_lazy)
    cum = regs.withColumn(
        "_cum",
        F.sum("_cnt").over(
            Window.orderBy("_bin").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    ).withColumn("_before", F.col("_cum") - F.col("_cnt"))
    n = regs.agg(F.sum("_cnt").alias("_n"))
    qdf = regs.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    t = F.col("q") * F.col("_n")
    # lower bound is INCLUSIVE (_before <= t): with q = 0, t = 0 and
    # _before is never negative, so an exclusive bound silently dropped
    # the quantile from the output; <= admits the first occupied bin
    # (est = its lower edge). Boundary-landing t now matches two bins,
    # which the row_number tie-break below already resolves to the
    # lower one — same estimate as before for every q > 0.
    picked = (
        qdf.crossJoin(F.broadcast(n))
        .join(
            F.broadcast(cum),
            (F.col("_cum") >= t) & (F.col("_before") <= t),
        )
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("q").orderBy(F.col("_bin").asc())
            ),
        )
        .where(F.col("_r") == 1)
    )
    est = F.lit(lo) + F.lit(width) * (
        F.col("_bin") + (t - F.col("_before")) / F.col("_cnt")
    )
    return picked.select("q", est.alias("est"))


def kmv_jaccard(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str,
    k: int = 256,
) -> DataFrame:
    """1-row Jaccard estimate |A∩B| / |A∪B| between two key SETS from
    bottom-k (KMV) signatures — the similarity-of-segments probe
    (shared users, shared vocabulary, shared entities) that never
    materializes either set.

    Method: each side keeps its k smallest distinct 60-bit md5 key
    hashes (one distinct-shuffle each — the only corpus-scale work).
    The k smallest hashes of the sketch UNION are a uniform sample S of
    A∪B; J ≈ |S ∩ A ∩ B| / |S|. Exact when |A∪B| ≤ k (the sample is
    the whole union). Also returns the implied intersection size
    J·D(A∪B) with D the KMV distinct estimate. Deterministic md5
    end-to-end → the whole estimate replays in SQL.

    Output: (jaccard, inter_est, n_union_sampled)."""
    # each sketch is ≤ k rows AFTER the limit but costs a corpus-scale
    # distinct+sort to build — pin BOTH (they are referenced twice
    # each: by the union sample and by a semi-join membership probe
    # below; without the pin each reference re-derives the full
    # bottom-k pass)
    sa = (
        a.select(F.col(key_a).alias("_key"))
        .distinct()
        .select("_key", hash60(F.col("_key")).alias("_h"))
        .orderBy("_h")
        .limit(k)
        .transform(pin)
    )
    sb = (
        b.select(F.col(key_b).alias("_key"))
        .distinct()
        .select("_key", hash60(F.col("_key")).alias("_h"))
        .orderBy("_h")
        .limit(k)
        .transform(pin)
    )
    union_sample = (
        sa.unionByName(sb)
        .distinct()
        .orderBy("_h")
        .limit(k)
        # sample S is ≤ k rows — pin it so the aggregates below don't
        # re-derive the union sort per reference
        .transform(pin)
    )
    stats = union_sample.agg(
        F.max("_h").alias("_tau"), F.count(F.lit(1)).alias("_nu")
    )
    both = (
        union_sample.join(sa.select("_key"), "_key", "left_semi")
        .join(sb.select("_key"), "_key", "left_semi")
        .agg(F.count(F.lit(1)).alias("_nboth"))
    )
    d_union = F.when(
        F.col("_nu") < k, F.col("_nu").cast("double")
    ).otherwise(
        F.lit(float(k - 1) * float(1 << HASH_BITS)) / F.col("_tau").cast("double")
    )
    j = F.col("_nboth").cast("double") / F.col("_nu").cast("double")
    return (
        both.crossJoin(F.broadcast(stats))
        .select(
            F.round(j, 6).alias("jaccard"),
            F.round(j * d_union, 2).alias("inter_est"),
            F.col("_nu").alias("n_union_sampled"),
        )
    )


def hll_intersect_estimate(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str,
    out: str = "inter_est",
) -> DataFrame:
    """1-row |A∩B| estimate by inclusion–exclusion over HLL register
    tables: E(A) + E(B) − E(A∪B), where the union's registers are the
    exact bucket-max merge of the two sides' registers — no third pass
    over the data. Register tables are m=1024 rows each; everything
    after the two register shuffles is constant-size work. Relative
    error grows as |A∩B| shrinks vs the union (inclusion–exclusion
    subtracts two noisy numbers) — for tiny intersections over huge
    sets prefer ``kmv_jaccard``."""
    tag_a = a.select(F.lit("a").alias("_s"), F.col(key_a).alias("_key"))
    tag_b = b.select(F.lit("b").alias("_s"), F.col(key_b).alias("_key"))
    regs_a = hll_registers(tag_a, "_s", "_key")
    regs_b = hll_registers(tag_b, "_s", "_key")
    regs_u = hll_merge(
        "_s",
        regs_a.withColumn("_s", F.lit("u")),
        regs_b.withColumn("_s", F.lit("u")),
    )
    ests = hll_estimate(
        regs_a.unionByName(regs_b).unionByName(regs_u), "_s", out="_e"
    )
    wide = ests.groupBy().pivot("_s", ["a", "b", "u"]).agg(F.first("_e"))
    # degenerate-input contract: an EMPTY side has no registers, so its
    # pivot cell is NULL — coalesce to 0 rather than propagate NULL into
    # the estimate; and inclusion–exclusion subtracts two noisy
    # estimates, so tiny intersections can come out slightly NEGATIVE —
    # clamp at 0 (a set intersection cannot have negative size)
    ea = F.coalesce(F.col("a"), F.lit(0.0))
    eb = F.coalesce(F.col("b"), F.lit(0.0))
    eu = F.coalesce(F.col("u"), F.lit(0.0))
    return wide.select(
        ea.alias("est_a"),
        eb.alias("est_b"),
        eu.alias("est_union"),
        F.greatest(F.lit(0.0), F.round(ea + eb - eu, 2)).alias(out),
    )
