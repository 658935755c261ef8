"""asof_join / range_join golden tests."""

from datetime import datetime

from pyspark.sql import functions as F

from grafink_spark.ops import asof_join, range_join


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, 100, _ts("2024-01-01T10:00:00"), 5.0),
            (2, 100, _ts("2024-01-01T12:00:00"), 6.0),
            (3, 200, _ts("2024-01-01T09:00:00"), 7.0),  # no prior right
            (4, 300, _ts("2024-01-01T10:00:00"), 8.0),  # equal-ts match
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [
            (11, 100, _ts("2024-01-01T09:30:00"), 1.0),
            (12, 100, _ts("2024-01-01T11:00:00"), 2.0),
            (13, 200, _ts("2024-01-01T09:30:00"), 3.0),  # after left 3
            (14, 300, _ts("2024-01-01T10:00:00"), 4.0),  # ts == left 4
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = asof_join(
        left, right, on="user_id", ts="ts",
        right_cols=["event_id", "value"], suffix="_r",
    )
    got = {r.event_id: (r.event_id_r, r.value_r) for r in out.collect()}
    assert got == {
        1: (11, 1.0),   # latest right before 10:00 is 09:30
        2: (12, 2.0),   # 11:00 beats 09:30
        3: (None, None),  # nothing at-or-before 09:00
        4: (14, 4.0),   # equal timestamps match (<= semantics)
    }
    # left columns survive unchanged
    assert {r.event_id: r.value for r in out.collect()}[1] == 5.0


def test_range_join_bucket_boundaries(spark):
    # delta and boundary diffs chosen exactly representable in binary
    # floats (0.5, 1.0, 1.5 …) so inclusivity is actually exercised
    a = spark.createDataFrame(
        [(1, 1.0), (2, 3.0), (3, 9.0)], "id_a long, v double"
    )
    b = spark.createDataFrame(
        [(10, 1.5), (11, 0.75), (12, 2.25), (13, 3.0)], "id_b long, v double"
    )
    out = range_join(a, b, "v", 0.5)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    # 1↔10: diff exactly 0.5 (inclusive), neighbor bucket; 1↔11: diff
    # 0.25, lower bucket; 2↔13: diff 0 same bucket; 2↔12 diff 0.75 out;
    # 3 matches nothing
    assert got == {(1, 10), (1, 11), (2, 13)}


def test_grouped_topk(spark):
    from grafink_spark.ops import grouped_topk

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
         ("b", 4, 5.0), ("b", 5, 1.0)],
        "g string, id long, v double",
    )
    out = sorted(
        (r["g"], r["id"], r["rank"])
        for r in grouped_topk(df, ["g"], [F.col("v").desc(), "id"], 2).collect()
    )
    assert out == [("a", 2, 1), ("a", 3, 2), ("b", 4, 1), ("b", 5, 2)]


def test_zscore_outliers(spark):
    from grafink_spark.ops import zscore_outliers

    rows = [("u", float(x)) for x in [10] * 20 + [100]]
    rows += [("w", 5.0)]  # single row -> sd null -> never an outlier
    rows += [("c", 3.0), ("c", 3.0)]  # zero variance -> no outliers
    df = spark.createDataFrame(rows, "k string, v double")
    out = zscore_outliers(df, "k", "v", 2.0).collect()
    assert [(r["k"], r["v"]) for r in out] == [("u", 100.0)]
    assert out[0]["z"] > 4


def test_quantile_filter_interpolated_threshold(spark):
    from grafink_spark.ops import quantile_filter

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 3, 4])],
        "id long, v double",
    )
    # p75 of [1,2,3,4] (linear interpolation) = 3.25 -> keeps only 4.0
    ge = quantile_filter(df, "v", 0.75).collect()
    assert [r["v"] for r in ge] == [4.0]
    le = quantile_filter(df, "v", 0.25, keep="le").collect()
    assert sorted(r["v"] for r in le) == [1.0]


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from grafink_spark.ops import salted_join

    left = spark.createDataFrame(
        [(i, f"k{i % 3}", float(i)) for i in range(100)],
        "id long, k string, v double",
    )
    right = spark.createDataFrame(
        [("k0", 10.0), ("k1", 20.0), ("k2", 30.0), ("k9", 99.0)],
        "rk string, w double",
    )
    out = salted_join(
        left, right, F.col("k") == F.col("rk"), ["k"], salt_from=F.col("id"), salts=4
    )
    assert out.columns == ["id", "k", "v", "rk", "w"]
    got = sorted((r.id, r.k, r.v, r.w) for r in out.collect())
    want = sorted(
        (r.id, r.k, r.v, r.w)
        for r in left.join(right, F.col("k") == F.col("rk")).collect()
    )
    assert got == want
    assert len(got) == 100  # k9 matches nothing


def test_salted_join_splits_hot_key_across_salts(spark):
    from pyspark.sql import functions as F

    from grafink_spark.ops import salted_join

    left = spark.createDataFrame(
        [(i, "hot") for i in range(64)], "id long, k string"
    )
    right = spark.createDataFrame([("hot", 1)], "rk string, w int")
    out = salted_join(
        left, right, F.col("k") == F.col("rk"), ["k"], salt_from=F.col("id"), salts=8
    )
    # the join key includes the salt, and the salted side is
    # repartitioned on (key, salt) into one partition per salt
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan
    assert "hashpartitioning(k#" in plan and ", 8)" in plan
    assert out.count() == 64


def test_mutual_best_match_golden(spark):
    from grafink_spark.ops import mutual_best_match

    # L1's best is R1 (0.9) and vice versa → matched.
    # L2's best is R1 (0.8) but R1 prefers L1 → L2 unmatched.
    # L3-R2 mutual at 0.5 → matched.
    pairs = spark.createDataFrame(
        [(1, 1, 0.9), (2, 1, 0.8), (2, 2, 0.3), (3, 2, 0.5)],
        "left_id long, right_id long, score double",
    )
    got = {
        (r.left_id, r.right_id)
        for r in mutual_best_match(pairs).collect()
    }
    assert got == {(1, 1), (3, 2)}


def test_mutual_best_match_tie_breaks_to_lower_id(spark):
    from grafink_spark.ops import mutual_best_match

    pairs = spark.createDataFrame(
        [(1, 5, 0.7), (1, 4, 0.7), (2, 4, 0.7)],
        "left_id long, right_id long, score double",
    )
    got = {
        (r.left_id, r.right_id)
        for r in mutual_best_match(pairs).collect()
    }
    # L1 ties 4 vs 5 → picks 4; R4 ties L1 vs L2 → picks L1; R5 has
    # only L1 but L1 chose 4 → unmatched
    assert got == {(1, 4)}


def test_mutual_best_match_agg_not_window(spark):
    from grafink_spark.ops import mutual_best_match

    pairs = spark.createDataFrame(
        [(i, i % 7, float(i % 11)) for i in range(200)],
        "left_id long, right_id long, score double",
    )
    plan = mutual_best_match(pairs)._jdf.queryExecution().executedPlan().toString()
    # per-side argmax must be a HASH aggregation: no window rank over
    # the candidate set, and no SortAggregate demotion (the max_by/
    # struct-buffer form sorted 60M rows twice — SCALE.md fifth batch)
    assert "Window" not in plan
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_nearest_join_golden(spark):
    from grafink_spark.ops import nearest_join

    left = spark.createDataFrame(
        [(1, 10, 5.0), (1, 11, 100.0), (2, 12, 7.0)],
        "g int, lid long, lv double",
    )
    right = spark.createDataFrame(
        [(1, 20, 4.0), (1, 21, 8.0), (2, 22, 3.0)],
        "g int, rid long, rv double",
    )
    got = {
        (r.lid, r.rid)
        for r in nearest_join(
            left, right, on="g", left_id="lid", left_val="lv",
            right_id="rid", right_val="rv",
        ).collect()
    }
    # 5.0 → 4.0 (dist 1 < 3); 100.0 → 8.0 (only ceiling-less floor);
    # group 2: 7.0 → 3.0 (only candidate)
    assert got == {(10, 20), (11, 21), (12, 22)}


def test_nearest_join_tie_breaks_min_id(spark):
    from grafink_spark.ops import nearest_join

    left = spark.createDataFrame([(1, 10, 5.0)], "g int, lid long, lv double")
    right = spark.createDataFrame(
        [(1, 9, 4.0), (1, 3, 6.0), (1, 7, 6.0)],
        "g int, rid long, rv double",
    )
    rows = nearest_join(
        left, right, on="g", left_id="lid", left_val="lv",
        right_id="rid", right_val="rv",
    ).collect()
    # floor 4.0 (id 9) and ceiling 6.0 both at dist 1; ceiling value
    # has two rights → min id 3; overall tie → min(9, 3) = 3
    assert [(r.lid, r.rid) for r in rows] == [(10, 3)]


def test_nearest_join_matches_bruteforce(spark):
    import random

    from pyspark.sql import functions as F

    from grafink_spark.ops import nearest_join

    rnd = random.Random(7)
    left = spark.createDataFrame(
        [(i % 3, i, round(rnd.uniform(0, 50), 1)) for i in range(60)],
        "g int, lid long, lv double",
    )
    right = spark.createDataFrame(
        [(i % 3, 100 + i, round(rnd.uniform(0, 50), 1)) for i in range(40)],
        "g int, rid long, rv double",
    )
    got = {
        (r.lid, r.rid)
        for r in nearest_join(
            left, right, on="g", left_id="lid", left_val="lv",
            right_id="rid", right_val="rv",
        ).collect()
    }
    brute = (
        left.join(right, "g")
        .withColumn("d", F.abs(F.col("lv") - F.col("rv")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lid").orderBy(F.col("d").asc(), F.col("rid").asc())
    exp = {
        (r.lid, r.rid)
        for r in brute.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    assert got == exp


def test_grouped_quantile_filter(spark):
    from grafink_spark.ops import grouped_quantile_filter

    rows = [("a", i, float(i)) for i in range(1, 5)]          # p75 = 3.25
    rows += [("b", 10 + i, float(100 + i)) for i in range(1, 5)]  # p75 = 103.25
    df = spark.createDataFrame(rows, "g string, id long, v double")
    got = sorted(
        (r.g, r.id)
        for r in grouped_quantile_filter(df, "g", "v", 0.75).collect()
    )
    # each group keeps only its own top quartile (4.0 and 104.0)
    assert got == [("a", 4), ("b", 14)]


def test_asof_join_forward_semantics(spark):
    from datetime import datetime

    from grafink_spark.ops import asof_join

    def ts(s):
        return datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [
            (1, 100, ts("2024-01-01T10:00:00"), 5.0),
            (2, 100, ts("2024-01-01T12:30:00"), 6.0),  # no later right
            (3, 300, ts("2024-01-01T10:00:00"), 7.0),  # equal-ts match
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [
            (11, 100, ts("2024-01-01T09:30:00"), 1.0),  # before left 1
            (12, 100, ts("2024-01-01T11:00:00"), 2.0),  # after left 1
            (13, 100, ts("2024-01-01T12:00:00"), 3.0),  # nearer after? no: before 12:30
            (14, 300, ts("2024-01-01T10:00:00"), 4.0),
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = asof_join(
        left, right, on="user_id", ts="ts",
        right_cols=["event_id", "value"], suffix="_r",
        direction="forward",
    )
    got = {r.event_id: r.event_id_r for r in out.collect()}
    # 1 → earliest at-or-after 10:00 is 11:00 (12); 2 → nothing later;
    # 3 → equal timestamp matches (>= semantics)
    assert got == {1: 12, 2: None, 3: 14}


def test_bloom_prefilter_no_false_negatives(spark):
    from grafink_spark.ops import bloom_prefilter

    big = spark.range(20000).selectExpr("id % 2000 as k", "id as v")
    small = spark.range(100).selectExpr("id * 19 as k")
    filtered = bloom_prefilter(big, small, "k", "k", m_bits=4096, hashes=3)
    semi = big.join(small.distinct(), "k", "left_semi")
    n_semi = semi.count()
    # every true match survives; false positives are rare and bounded
    assert filtered.join(small.distinct(), "k", "left_semi").count() == n_semi
    n_f = filtered.count()
    assert n_semi <= n_f < n_semi + 0.05 * (20000 - n_semi)


def test_bloom_prefilter_no_join_in_plan(spark):
    from grafink_spark.ops import bloom_prefilter

    big = spark.range(1000).selectExpr("id % 100 as k")
    small = spark.range(10).selectExpr("id * 3 as k")
    plan = (
        bloom_prefilter(big, small, "k", "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # membership is a literal-array expression — narrow filter, no join
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_asof_join_rejects_bad_direction(spark):
    import pytest as _pytest
    from grafink_spark.ops import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 9, 1.0)], "k long, ts long, v double")
    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="k", direction="Backward")


def test_exact_median_matches_sorted_definition(spark):
    """Odd and even counts, duplicates, constant columns, and the
    interpolated even-count middle — all against the brute definition."""
    from grafink_spark.ops import exact_median

    cases = [
        [5.0, 1.0, 3.0],                    # odd
        [4.0, 1.0, 3.0, 2.0],              # even -> 2.5
        [2.0, 2.0, 2.0, 2.0],              # constant
        [1.0, 1.0, 2.0, 100.0, 100.0],     # duplicates, skew
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        sv = sorted(vals)
        n = len(sv)
        want = (sv[(n - 1) // 2] + sv[n // 2]) / 2.0
        assert exact_median(df, "x", bins=8) == want, vals


def test_exact_median_degenerate_bucket_recurses(spark):
    """A distribution where one histogram bucket holds ~99% of the rows
    must not TakeOrdered half the table: with max_pass2 forced tiny the
    search recurses into the dominating bucket (fresh histogram over
    its narrowed range) and still returns the exact sorted-definition
    median."""
    import statistics

    from grafink_spark.ops import exact_median

    # 990 rows jammed into [1000.0, 1000.001) + 10 spread over [0, 900]:
    # at bins=8 the hot bucket dwarfs max_pass2=50, forcing recursion;
    # inside, values differ so the recursion actually re-histograms
    vals = [1000.0 + (i % 97) * 1e-5 for i in range(990)] + [
        float(i * 100) for i in range(10)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(7)
    want = statistics.median(vals)
    got = exact_median(df, "x", bins=8, max_pass2=50)
    assert got == want
    # point-mass variant: the dominating bucket is a single repeated
    # value, so recursion short-circuits on lo == hi
    vals2 = [5.0] * 9900 + [float(i) / 100.0 for i in range(100)]
    df2 = spark.createDataFrame([(v,) for v in vals2], "x double").repartition(7)
    assert exact_median(df2, "x", bins=8, max_pass2=100) == 5.0
    # even count whose two middle ranks straddle bucket boundaries
    vals3 = [1.0, 2.0, 3.0, 4.0]
    df3 = spark.createDataFrame([(v,) for v in vals3], "x double")
    assert exact_median(df3, "x", bins=2, max_pass2=1) == 2.5


def test_exact_median_float_resolution_stop(spark):
    """Mass concentrated on ADJACENT doubles (histogram width
    underflows to 0 before the bucket fits max_pass2): the search must
    stop by float resolution and resolve ranks from bounded per-value
    counts — never TakeOrdered ~n/2 rows, never recurse forever on a
    zero-width histogram (the old depth<4 cap's failure mode)."""
    import math
    import statistics

    from grafink_spark.ops import exact_median

    base = 1000.0
    nxt = math.nextafter(base, math.inf)
    # two adjacent doubles dominate; (hi-lo)/bins underflows immediately
    # inside their bucket because hi-lo is one ulp
    vals = [base] * 400 + [nxt] * 300 + [0.0, 2000.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(5)
    want = statistics.median(vals)
    assert exact_median(df, "x", bins=8, max_pass2=50) == want
    # denormal-range variant: lo=0, hi a few subnormals up — width
    # (hi-lo)/bins rounds to 0.0 at the TOP level
    tiny = math.nextafter(0.0, 1.0)
    vals2 = [0.0] * 30 + [tiny] * 41 + [tiny * 2] * 30
    df2 = spark.createDataFrame([(v,) for v in vals2], "x double")
    want2 = statistics.median(vals2)
    assert exact_median(df2, "x", bins=2048, max_pass2=10) == want2


def test_corpus_diversity_has_no_low_cardinality_window(spark):
    """The registered corpus_diversity query must not funnel fact rows
    through a |sources|-task window — its pairing goes through
    grouped_lead."""
    import os

    from grafink_spark.benchqueries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_ORACLE", "/root/testdata/sf0.01")
    df = QUERIES["corpus_diversity"](spark, sf_dir)
    assert "Window" not in df._jdf.queryExecution().executedPlan().toString()


def test_benford_first_significant_digit_extraction(spark):
    """Sub-1 values must surface their first SIGNIFICANT digit (zeros
    skipped), and chi-square terms follow the log10 expectation."""
    import math

    import grafink_spark.benchqueries as bq
    from pyspark.sql import functions as F

    spark.createDataFrame(
        [(1, 0.00234), (2, 91.0), (3, 0.5), (4, 2000.0)],
        "o_orderkey long, o_totalprice double",
    ).createOrReplaceTempView("_benford_probe")
    # reuse the query's digit expression by running it on a temp table
    # via a minimal sf-dir shim is overkill; assert the expression inline
    digit = F.substring(
        F.regexp_replace(
            F.format_number(F.col("o_totalprice").cast("double"), 6),
            r"[^1-9]", "",
        ), 1, 1,
    ).cast("int")
    got = {
        r.o_orderkey: r.d
        for r in spark.table("_benford_probe").select(
            "o_orderkey", digit.alias("d")
        ).collect()
    }
    assert got == {1: 2, 2: 9, 3: 5, 4: 2}


# ------------------------------------------------------- pareto frontier


def _brute_skyline(rows, mins, maxs):
    def dominated(a, b):
        leq = all(b[c] <= a[c] for c in mins) and all(
            b[c] >= a[c] for c in maxs
        )
        strict = any(b[c] < a[c] for c in mins) or any(
            b[c] > a[c] for c in maxs
        )
        return leq and strict

    return {
        a["id"]
        for a in rows
        if not any(dominated(a, b) for b in rows)
    }


def test_pareto_frontier_2d_matches_brute_force(spark):
    from grafink_spark.ops import pareto_frontier_2d

    rows = [
        {"id": 1, "price": 1.0, "size": 1},
        {"id": 2, "price": 2.0, "size": 5},
        {"id": 3, "price": 2.0, "size": 5},   # exact tie with 2: both live
        {"id": 4, "price": 2.0, "size": 4},   # dominated by 2 (same price)
        {"id": 5, "price": 3.0, "size": 5},   # dominated by 2 (same size)
        {"id": 6, "price": 4.0, "size": 9},
        {"id": 7, "price": 0.5, "size": 0},
    ]
    df = spark.createDataFrame(
        [(r["id"], r["price"], r["size"]) for r in rows],
        "id long, price double, size int",
    )
    got = {
        r.id
        for r in pareto_frontier_2d(df, "price", "size").collect()
    }
    assert got == _brute_skyline(rows, ["price"], ["size"])
    assert {2, 3} <= got and 4 not in got and 5 not in got


def test_pareto_frontier_generic_matches_2d_and_brute(spark):
    import random

    from grafink_spark.ops import pareto_frontier, pareto_frontier_2d

    rng = random.Random(7)
    rows = [
        {
            "id": i,
            "price": round(rng.uniform(0, 10), 1),
            "size": rng.randint(0, 9),
            "bal": round(rng.uniform(-5, 5), 1),
        }
        for i in range(300)
    ]
    df = spark.createDataFrame(
        [(r["id"], r["price"], r["size"], float(r["bal"])) for r in rows],
        "id long, price double, size int, bal double",
    ).repartition(7)

    got2 = {
        r.id for r in pareto_frontier_2d(df, "price", "size").collect()
    }
    gotg = {
        r.id
        for r in pareto_frontier(
            df, minimize=["price"], maximize=["size"]
        ).collect()
    }
    assert got2 == gotg == _brute_skyline(rows, ["price"], ["size"])

    got3 = {
        r.id
        for r in pareto_frontier(
            df, minimize=["price"], maximize=["size", "bal"]
        ).collect()
    }
    assert got3 == _brute_skyline(rows, ["price"], ["size", "bal"])
    assert got2 <= got3  # extra dimension only widens the frontier


def test_pareto_frontier_plans(spark):
    from grafink_spark.ops import pareto_frontier, pareto_frontier_2d

    df = spark.createDataFrame(
        [(i, float(i % 13), i % 7) for i in range(100)],
        "id long, price double, size int",
    )
    plan2 = (
        pareto_frontier_2d(df, "price", "size")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan2
    assert "BroadcastHashJoin" in plan2

    plang = (
        pareto_frontier(df, minimize=["price"], maximize=["size"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plang
    # global verify runs against broadcast candidates only
    assert "BroadcastNestedLoopJoin" in plang or "BroadcastHashJoin" in plang


def test_winsorize_clips_to_group_band(spark):
    from grafink_spark.ops import winsorize

    rows = [(i, "a", float(i)) for i in range(1, 101)] + [(200, "b", 1000.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {r.event_id: r.value_w for r in winsorize(df, "event_type", "value").collect()}
    # group a: p05 = 5.95, p95 = 95.05 (linear interpolation over 1..100)
    assert abs(out[1] - 5.95) < 1e-9       # clipped up
    assert abs(out[100] - 95.05) < 1e-9    # clipped down
    assert out[50] == 50.0                 # interior untouched
    assert out[200] == 1000.0              # singleton group: lo == hi == v


def test_pareto_frontier_drops_null_dimension_rows(spark):
    """Rows with NULL in any skyline dimension are incomparable (every
    comparison false → never dominated) and are dropped at entry
    instead of silently polluting the frontier."""
    from grafink_spark.ops import pareto_frontier

    df = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 5.0, None), (3, None, 5.0), (4, 2.0, 2.0)],
        "id long, price double, weight double",
    )
    out = {r.id for r in pareto_frontier(df, minimize=["price", "weight"]).collect()}
    assert out == {1}


def test_grouped_rank_matches_window_row_number(spark):
    """grouped_rank (range-partition + offset table — no low-cardinality
    window partition) must be row-identical to
    row_number().over(partitionBy(group).orderBy(order)) + count(*),
    including a NULL group and a singleton group."""
    import random

    from pyspark.sql import Window

    from grafink_spark.ops import grouped_rank

    random.seed(7)
    rows = [
        (random.choice(["a", "b", "c", None]), random.randint(0, 50), i)
        for i in range(2000)
    ] + [("solo", 1, 99999)]
    df = spark.createDataFrame(rows, "g string, v int, id long").repartition(16)
    got = grouped_rank(df, ["g"], ["v", "id"])
    w = Window.partitionBy("g").orderBy("v", "id")
    want = df.withColumn("rank", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )

    def key(r):
        return (str(r[0]), r[1], r[2])

    a = sorted([tuple(r) for r in got.collect()], key=key)
    b = sorted([tuple(r) for r in want.collect()], key=key)
    assert a == b


def test_grouped_rank_plan_has_no_group_window(spark):
    """The executed plan must contain NO Window operator partitioned on
    the group — the whole point is that a 5-value group never becomes
    5 reducer tasks. Offsets must arrive via a broadcast join."""
    from grafink_spark.ops import grouped_rank

    df = spark.range(1000).withColumn(
        "g", (F.col("id") % 3).cast("string")
    )
    out = grouped_rank(df, ["g"], ["id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_grouped_lead_matches_window_lead(spark):
    """grouped_lead must match lead().over(partitionBy(group)
    .orderBy(order)) row-for-row, nulls on each group's last row."""
    import random

    from pyspark.sql import Window

    from grafink_spark.ops import grouped_lead

    random.seed(11)
    rows = [
        (random.choice(["x", "y", None]), random.randint(0, 99), i)
        for i in range(1500)
    ]
    df = spark.createDataFrame(rows, "g string, v int, id long").repartition(8)
    got = grouped_lead(df, ["g"], ["v", "id"], lead_cols=["id"])
    w = Window.partitionBy("g").orderBy("v", "id")
    want = df.withColumn("id_next", F.lead("id").over(w))

    def key(r):
        return (str(r[0]), r[1], r[2])

    a = sorted([tuple(r) for r in got.collect()], key=key)
    b = sorted([tuple(r) for r in want.collect()], key=key)
    assert a == b


def test_grouped_lead_at_low_and_high_group_cardinality(spark):
    """grouped_lead is the one lead plan for every group cardinality:
    a few groups (one of them NULL) and one group per row (each a
    singleton, so every lead is NULL) both match the window lead, and
    neither plan holds a Window."""
    from pyspark.sql import Window

    from grafink_spark.ops import grouped_lead

    # 3 groups, 300 rows: id % 3 == 0 forms the NULL group
    low = spark.range(300).select(
        F.when(F.col("id") % 3 != 0, F.col("id") % 3).alias("g"),
        F.col("id").alias("t"),
    )
    # 300 distinct groups, one row each
    high = spark.range(300).select(
        F.col("id").alias("g"), F.col("id").alias("t")
    )
    w = Window.partitionBy("g").orderBy("t")

    def key(r):
        return (str(r[0]), r[1])

    for df in (low, high):
        got = grouped_lead(df, ["g"], ["t"], lead_cols=["t"])
        assert "Window" not in got._jdf.queryExecution().executedPlan().toString()
        want = df.withColumn("t_next", F.lead("t").over(w))
        assert sorted(map(tuple, got.collect()), key=key) == sorted(
            map(tuple, want.collect()), key=key
        )
    assert all(
        r["t_next"] is None
        for r in grouped_lead(high, ["g"], ["t"], lead_cols=["t"]).collect()
    )


def test_distributed_cumsum_matches_global_window(spark):
    """distributed_cumsum must equal sum(x) OVER (ORDER BY ...) for the
    whole table — including NULL runs at partition boundaries and a
    leading all-NULL prefix (the window's NULL-until-first-value
    semantics)."""
    import random

    from pyspark.sql import Window

    from grafink_spark.ops import distributed_cumsum

    random.seed(5)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    cases = [
        [(i, random.randint(-50, 50)) for i in range(3000)],
        [(i, 100 if i < 3 else None) for i in range(1000)],
        [(i, None if i < 400 else i) for i in range(1000)],
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "id long, v long").repartition(16)
        got = sorted(map(tuple, distributed_cumsum(df, ["id"], ["v"]).collect()))
        want = sorted(
            map(tuple, df.withColumn("cum_v", F.sum("v").over(w)).collect())
        )
        assert got == want


def test_distributed_cumsum_plan_has_no_single_partition_window(spark):
    """The point of the operator: no Window without PARTITION BY (the
    single-task funnel) anywhere in the plan — the only window is
    keyed by the physical partition id."""
    from grafink_spark.ops import distributed_cumsum

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    out = distributed_cumsum(df, ["id"], ["v"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "windowspecdefinition(_cs_pid" in plan


def test_distributed_cumsum_decimal_exact(spark):
    """Decimal value columns: the offsets and local window sums must
    stay decimal end-to-end (the whole point is order-independent exact
    accumulation), matching the global-window decimal result."""
    from decimal import Decimal

    from pyspark.sql import Window

    from grafink_spark.ops import distributed_cumsum

    rows = [(i, Decimal(str((i * 7919) % 1000)) / 100) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v decimal(21,6)").repartition(16)
    got = sorted(map(tuple, distributed_cumsum(df, ["id"], ["v"]).collect()))
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = sorted(
        map(tuple, df.withColumn("cum_v", F.sum("v").over(w)).collect())
    )
    assert got == want
