"""Deterministic HLL / KMV sketch tests: accuracy bounds + exactness
of the small-range paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from grafink_spark import sketches as sk


def _vals(spark, n, groups=1):
    return spark.range(n * groups).select(
        (F.col("id") % groups).cast("string").alias("g"),
        F.col("id").alias("v"),
    )


def test_hll_within_expected_error(spark):
    # m=1024 → standard error ~1.04/sqrt(1024) ≈ 3.25%; allow 4 sigma
    n = 20000
    est = sk.hll_distinct(_vals(spark, n), "g", "v").collect()[0]["hll_est"]
    assert abs(est - n) / n < 0.13


def test_hll_small_range_linear_counting(spark):
    # n ≪ m → linear-counting path, very accurate
    n = 100
    est = sk.hll_distinct(_vals(spark, n), "g", "v").collect()[0]["hll_est"]
    assert abs(est - n) / n < 0.05


def test_hll_ignores_duplicates(spark):
    df = _vals(spark, 5000)
    dup = df.unionByName(df).unionByName(df)
    a = sk.hll_distinct(df, "g", "v").collect()[0]["hll_est"]
    b = sk.hll_distinct(dup, "g", "v").collect()[0]["hll_est"]
    assert a == b  # registers are max-merged — multiplicity-invariant


def test_kmv_exact_below_k(spark):
    # < k distinct values → the bottom-k set IS the distinct set
    est = sk.kmv_distinct(_vals(spark, 40), "g", "v", k=64).collect()[0][
        "kmv_est"
    ]
    assert est == 40.0


def test_kmv_within_expected_error(spark):
    # k=256 → relative error ~1/sqrt(k-2) ≈ 6.3%; allow ~4 sigma
    n = 20000
    est = sk.kmv_distinct(_vals(spark, n), "g", "v", k=256).collect()[0][
        "kmv_est"
    ]
    assert abs(est - n) / n < 0.25


def test_sketches_per_group_independent(spark):
    df = _vals(spark, 1000, groups=4)
    out = {
        r["g"]: r["hll_est"]
        for r in sk.hll_distinct(df, "g", "v").collect()
    }
    assert len(out) == 4
    for est in out.values():
        assert abs(est - 1000) / 1000 < 0.15


def test_hll_register_merge_is_exact(spark):
    # merged registers over a split == registers over the whole —
    # the incremental-maintenance invariant
    df = _vals(spark, 8000)
    old = df.where(F.col("v") % 3 != 0)
    new = df.where(F.col("v") % 3 == 0)
    merged = sk.hll_merge(
        "g",
        sk.hll_registers(old, "g", "v"),
        sk.hll_registers(new, "g", "v"),
    )
    a = sk.hll_estimate(merged, "g").collect()[0]["hll_est"]
    b = sk.hll_distinct(df, "g", "v").collect()[0]["hll_est"]
    assert a == b


def test_hll_merge_overlapping_batches(spark):
    # re-delivered values change nothing: max-merge absorbs duplicates
    df = _vals(spark, 3000)
    merged = sk.hll_merge(
        "g",
        sk.hll_registers(df, "g", "v"),
        sk.hll_registers(df.where(F.col("v") < 1000), "g", "v"),
    )
    a = sk.hll_estimate(merged, "g").collect()[0]["hll_est"]
    b = sk.hll_distinct(df, "g", "v").collect()[0]["hll_est"]
    assert a == b


def test_kmv_join_estimate_exact_when_union_fits(spark):
    from grafink_spark.sketches import kmv_join_estimate

    a = spark.createDataFrame([(i % 10,) for i in range(100)], "k long")
    b = spark.createDataFrame([(i % 15,) for i in range(60)], "k long")
    row = kmv_join_estimate(a, b, "k", "k", k=64).first()
    assert row.join_est == float(a.join(b, "k").count())
    assert row.n_sampled_keys == 10  # full intersection sampled


def test_kmv_join_estimate_close_on_large_join(spark):
    import random

    from grafink_spark.sketches import kmv_join_estimate

    rnd = random.Random(1)
    a = spark.createDataFrame(
        [(rnd.randrange(5000),) for _ in range(40000)], "k long"
    )
    b = spark.createDataFrame(
        [(rnd.randrange(5000),) for _ in range(30000)], "k long"
    )
    exact = a.join(b, "k").count()
    est = kmv_join_estimate(a, b, "k", "k", k=256).first().join_est
    assert abs(est - exact) / exact < 0.1  # k=256 → ~1/sqrt(k) ≈ 6%


def test_hll_streaming_incremental_merge(spark, tmp_path):
    """Streaming sketch maintenance: per-microbatch HLL register
    tables merged across batches equal the full-pass registers — the
    foreachBatch incremental-sketch recipe."""
    import os

    from pyspark.sql import functions as F

    from grafink_spark.sketches import hll_estimate, hll_merge, hll_registers

    src = str(tmp_path / "ev_src")
    os.makedirs(src, exist_ok=True)
    full = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type", "user_id"
    )
    full.where(F.col("user_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    full.where(F.col("user_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    reg_dir = str(tmp_path / "registers")
    ckpt = str(tmp_path / "ckpt")

    def process(batch, batch_id):
        hll_registers(batch, "event_type", "user_id").write.mode(
            "append"
        ).parquet(reg_dir)

    q = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = hll_merge("event_type", spark.read.parquet(reg_dir))
    got = {
        r.event_type: r.est
        for r in hll_estimate(merged, "event_type", out="est").collect()
    }
    want = {
        r.event_type: r.est
        for r in hll_estimate(
            hll_registers(full, "event_type", "user_id"), "event_type", out="est"
        ).collect()
    }
    assert got == want  # register-exact merge → identical estimates


def _sum_cells(regs):
    """Count-min registers combine by summing each (row, col) cell."""
    from pyspark.sql import functions as F

    return regs.groupBy("_row", "_col").agg(F.sum("_cnt").alias("_cnt"))


def test_cms_never_underestimates_and_merges_exactly(spark):
    """Conservative guarantee: est >= exact for every value; and
    per-batch registers summed cell-wise == full-stream registers
    (mergeable state), so incremental maintenance is exact."""
    from grafink_spark.sketches import cms_point_estimates, cms_registers

    rows = [(f"v{i % 7}",) for i in range(200)] + [("rare",)]
    df = spark.createDataFrame(rows, "val string")
    regs = cms_registers(df, "val", depth=4, width=16)  # narrow → collisions
    items = df.select("val").distinct()
    est = {
        r.val: r.cms_est
        for r in cms_point_estimates(regs, items, "val", 4, 16).collect()
    }
    exact = {r.val: r.cnt for r in df.groupBy("val").count().withColumnRenamed("count", "cnt").collect()}
    assert set(est) == set(exact)
    for v, e in est.items():
        assert e >= exact[v]

    b1 = df.where(df.val != "rare")
    b2 = df.where(df.val == "rare")
    merged = _sum_cells(
        cms_registers(b1, "val", 4, 16).unionByName(cms_registers(b2, "val", 4, 16))
    )
    full = {(r._row, r._col): r._cnt for r in cms_registers(df, "val", 4, 16).collect()}
    got = {(r._row, r._col): r._cnt for r in merged.collect()}
    assert got == full


def test_cms_heavy_hitters_finds_all_true_hitters(spark):
    from grafink_spark.sketches import cms_heavy_hitters

    rows = [("hot",)] * 50 + [(f"cold{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, "val string")
    got = {r.val: (r.cms_est, r.exact_cnt)
           for r in cms_heavy_hitters(df, "val", phi=(1, 10)).collect()}
    # 'hot' is 50% of a 100-element stream — must be reported (no false
    # negatives by the conservative property)
    assert "hot" in got
    assert got["hot"][1] == 50 and got["hot"][0] >= 50


def test_cms_streaming_incremental_merge(spark, tmp_path):
    """Streaming CMS maintenance: per-microbatch register tables
    appended by foreachBatch, summed on read, equal the full-stream
    registers cell-for-cell — frequencies (unlike distinct counts)
    merge by SUM, so the recipe is identical to the HLL one."""
    import os

    from pyspark.sql import functions as F

    from grafink_spark.sketches import cms_registers

    src = str(tmp_path / "tok_src")
    os.makedirs(src, exist_ok=True)
    full = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.explode(F.split("text", r"\s+")).alias("token"))
    )
    full.where(F.length("token") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    full.where(F.length("token") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    reg_dir = str(tmp_path / "registers")
    ckpt = str(tmp_path / "ckpt")

    def process(batch, batch_id):
        cms_registers(batch, "token", depth=4, width=64).write.mode(
            "append"
        ).parquet(reg_dir)

    q = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = {
        (r._row, r._col): r._cnt
        for r in _sum_cells(spark.read.parquet(reg_dir)).collect()
    }
    want = {
        (r._row, r._col): r._cnt
        for r in cms_registers(full, "token", depth=4, width=64).collect()
    }
    assert merged == want


def test_hist_sketch_merge_and_error_bound(spark):
    """Batch registers merged == full registers; quantile estimate
    within one bin width of the exact quantile."""
    from grafink_spark.sketches import (
        hist_merge,
        hist_quantiles,
        hist_registers,
    )

    vals = [float(i) for i in range(1, 1001)]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    lo, hi, bins = 1.0, 1000.0, 64
    full = {(r._bin): r._cnt for r in hist_registers(df, "value", bins, lo, hi).collect()}
    b1 = df.where(df.value <= 500.0)
    b2 = df.where(df.value > 500.0)
    merged = {
        r._bin: r._cnt
        for r in hist_merge(
            hist_registers(b1, "value", bins, lo, hi),
            hist_registers(b2, "value", bins, lo, hi),
        ).collect()
    }
    assert merged == full

    regs = hist_registers(df, "value", bins, lo, hi)
    got = {r.q: r.est for r in hist_quantiles(regs, [0.5, 0.99], bins, lo, hi).collect()}
    width = (hi - lo) / bins
    assert abs(got[0.5] - 500.5) <= width
    assert abs(got[0.99] - 990.0) <= width


def test_psi_drift_detects_shift(spark):
    from grafink_spark.profile import psi_drift

    ref = spark.createDataFrame(
        [("a", float(i % 100)) for i in range(1000)], "g string, v double"
    )
    same = ref
    shifted = spark.createDataFrame(
        [("a", float(i % 100) + 80.0) for i in range(1000)], "g string, v double"
    )
    stable = psi_drift(ref, same, "g", "v").collect()[0].psi
    moved = psi_drift(ref, shifted, "g", "v").collect()[0].psi
    assert stable < 0.01
    assert moved > 0.25


def test_psi_drift_reports_vanished_group(spark):
    """A group with reference rows but ZERO current rows — the
    most-drifted case — must still report (large PSI), not silently
    drop."""
    from grafink_spark.profile import psi_drift

    # 'gone' concentrates in one bin: its smoothed zero-count current
    # distribution (uniform) is then maximally unlike the reference.
    # (A UNIFORM reference would smooth to PSI ~ 0 — shape-identical.)
    ref = spark.createDataFrame(
        [("a", float(i % 50)) for i in range(200)]
        + [("gone", 5.0 + (i % 3) * 40.0) for i in range(200)],
        "g string, v double",
    )
    cur = spark.createDataFrame(
        [("a", float(i % 50)) for i in range(200)], "g string, v double"
    )
    got = {r.g: r.psi for r in psi_drift(ref, cur, "g", "v").collect()}
    assert "gone" in got
    assert got["gone"] > 0.25
    assert got["a"] < 0.01


def test_hist_registers_constant_column(spark):
    """lo == hi puts all mass in bin 0 and quantiles report the
    constant, instead of NULL-binning every row."""
    from grafink_spark.sketches import hist_quantiles, hist_registers

    df = spark.createDataFrame([(42.0,)] * 100, "value double")
    regs = hist_registers(df, "value", bins=16, lo=42.0, hi=42.0)
    got = {(r._bin): r._cnt for r in regs.collect()}
    assert got == {0: 100}
    q = hist_quantiles(regs, [0.5], bins=16, lo=42.0, hi=42.0).collect()
    assert q[0].est == 42.0


def test_hist_quantiles_q_zero_and_one(spark):
    """q=0 must emit a row (lower edge of the first occupied bin) —
    the exclusive lower bound used to drop it silently; q=1 returns
    the top edge as before."""
    from grafink_spark.sketches import hist_quantiles, hist_registers

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "value double")
    lo, hi, bins = 1.0, 100.0, 10
    regs = hist_registers(df, "value", bins, lo, hi)
    got = {r.q: r.est for r in hist_quantiles(regs, [0.0, 0.5, 1.0], bins, lo, hi).collect()}
    assert 0.0 in got and got[0.0] == lo
    assert 1.0 in got and abs(got[1.0] - hi) <= (hi - lo) / bins
    assert abs(got[0.5] - 50.5) <= (hi - lo) / bins


def test_kmv_jaccard_exact_when_union_fits(spark):
    """With |A∪B| <= k the union sample is the whole union, so the
    estimate must be EXACTLY |A∩B| / |A∪B| (and inter_est the exact
    intersection size)."""
    import random

    from grafink_spark.sketches import kmv_jaccard

    random.seed(3)
    universe = [f"key{i}" for i in range(120)]
    a_keys = set(random.sample(universe, 70))
    b_keys = set(random.sample(universe, 60))
    a = spark.createDataFrame([(x,) for x in a_keys] * 2, "k string")
    b = spark.createDataFrame([(x,) for x in b_keys] * 3, "k string")
    row = kmv_jaccard(a, b, "k", "k", k=256).collect()[0]
    inter, union = len(a_keys & b_keys), len(a_keys | b_keys)
    assert row.n_union_sampled == union
    assert row.jaccard == round(inter / union, 6)
    assert row.inter_est == float(inter)


def test_kmv_jaccard_estimates_beyond_k(spark):
    """With |A∪B| >> k the sampled estimate must land near the true
    Jaccard (the union sample is uniform in hash order)."""
    from grafink_spark.sketches import kmv_jaccard

    a = spark.range(0, 3000).select(F.col("id").cast("string").alias("k"))
    b = spark.range(1500, 4500).select(F.col("id").cast("string").alias("k"))
    row = kmv_jaccard(a, b, "k", "k", k=256).collect()[0]
    true_j = 1500 / 4500
    assert abs(row.jaccard - true_j) < 0.12
    assert row.n_union_sampled == 256


def test_hll_intersect_tracks_exact(spark):
    """Inclusion–exclusion over HLL registers lands within the sketch's
    error envelope of the exact intersection."""
    from grafink_spark.sketches import hll_intersect_estimate

    a = spark.range(0, 4000).select(F.col("id").cast("string").alias("k"))
    b = spark.range(2000, 6000).select(F.col("id").cast("string").alias("k"))
    row = hll_intersect_estimate(a, b, "k", "k").collect()[0]
    # three ±3.25% estimates subtract: allow a generous combined band
    assert abs(row.inter_est - 2000) < 2000 * 0.35
    assert abs(row.est_union - 6000) < 6000 * 0.10


def test_hll_intersect_degenerate_inputs_clamp_to_zero(spark):
    """An empty side must yield 0 estimates (not NULL propagating from
    a missing pivot cell), and disjoint sets — where inclusion–
    exclusion subtracts two noisy estimates — must clamp a negative
    result to 0: a set intersection cannot have negative size."""
    from grafink_spark.sketches import hll_intersect_estimate

    a = spark.range(0, 1000).select(F.col("id").cast("string").alias("k"))
    empty = a.where(F.lit(False))
    row = hll_intersect_estimate(a, empty, "k", "k").collect()[0]
    assert row.est_b == 0.0 and row.inter_est is not None
    assert row.inter_est >= 0.0
    # disjoint large sets: estimate noise could make A+B-U negative
    b = spark.range(1_000_000, 1_004_000).select(
        F.col("id").cast("string").alias("k")
    )
    row2 = hll_intersect_estimate(a, b, "k", "k").collect()[0]
    assert row2.inter_est >= 0.0
