"""Physical-plan regression tests — pin the scale properties SCALE.md
claims, so a refactor that silently reintroduces a shuffle/nested-loop
fails CI, not a 100 TB run."""

import re

from pyspark.sql import functions as F

from grafink_spark.id_manager import zip_with_index
from grafink_spark.llm import dedup as dd
from grafink_spark.rules.samevalue import SameValueClassifier
from grafink_spark.rules.similarity import SimilarityClassifier


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _alerts(spark, n=100):
    return spark.createDataFrame(
        [(i, f"obj{i % 10}", 0.8 + (i % 3) * 0.1, f"cat{i % 4}") for i in range(n)],
        "id long, objectId string, rfscore double, cdsxmatch string",
    )


def test_zip_with_index_no_data_shuffle(spark):
    df = _alerts(spark).repartition(4)  # the repartition is the INPUT's
    plan = physical_plan(zip_with_index(df, offset=5))
    # only allowed Exchanges: the input's own round-robin + the tiny
    # broadcast of per-partition offsets
    exchanges = [
        l for l in plan.split("\n")
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert all("REPARTITION_BY_NUM" in l for l in exchanges), exchanges
    assert "BroadcastHashJoin" in plan


def test_similarity_decomposed_uses_hash_join_for_equality_branch(spark):
    rule = SimilarityClassifier("rfscore OR objectId")
    df = _alerts(spark)
    plan = physical_plan(rule.classify(df.limit(0), df))
    # equality branch must be a real equi join (the threshold branch is
    # legitimately a cartesian of PRE-FILTERED subsets — every surviving
    # pair matches by construction)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    if "CartesianProduct" in plan:
        cart_idx = plan.index("CartesianProduct")
        assert "Filter" in plan[cart_idx:], "cartesian inputs must be pre-filtered"
        assert re.search(r"rfscore\d? ?#?\d* > 0.9", plan[cart_idx:])
    # no dropDuplicates: dedup is via disjoint branch residuals
    assert not re.search(r"HashAggregate.*keys=\[src", plan)


def test_samevalue_clique_is_equi_join(spark):
    rule = SameValueClassifier(["objectId"])
    df = _alerts(spark)
    plan = physical_plan(rule.classify(df.limit(0), df))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # no collect_list: groups stream through the join
    assert "collect_list" not in plan


def test_lsh_candidates_no_self_join(spark):
    docs = spark.createDataFrame(
        [(i, f"word{i} common tokens for every document here {i % 5}")
         for i in range(50)],
        "doc_id long, text string",
    )
    plan = physical_plan(dd.minhash_lsh_candidates(docs))
    # bucket-based pair generation: aggregates, no join at all
    assert "Join" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_scan_pruning_pushdown(spark, tmp_path):
    p = str(tmp_path / "t")
    _alerts(spark).write.parquet(p)
    df = (
        spark.read.parquet(p)
        .where(F.col("rfscore") > 0.85)
        .select("id", "objectId")
    )
    plan = physical_plan(df)
    scan = next(l for l in plan.split("\n") if "Scan parquet" in l)
    # projection pruned to the needed columns + filter pushed to the scan
    assert "rfscore" in plan and "cdsxmatch" not in scan
    assert "PushedFilters: [" in plan and "GreaterThan(rfscore" in plan


def test_asof_join_single_shuffle_no_join(spark):
    from datetime import datetime

    from grafink_spark.ops import asof_join

    left = spark.createDataFrame(
        [(1, 100, datetime(2024, 1, 1, 10), 5.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(11, 100, datetime(2024, 1, 1, 9), 1.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    plan = physical_plan(
        asof_join(left, right, on="user_id", ts="ts", right_cols=["event_id"])
    )
    # union+window formulation: ONE hash exchange on the key, no join
    # operator anywhere (the optimizer can't degrade it to BNLJ)
    assert "Join" not in plan
    exchanges = [l for l in plan.split("\n") if "Exchange" in l]
    assert len(exchanges) == 1 and "hashpartitioning" in exchanges[0]
    assert "Window" in plan


def _docs(spark, n=60):
    return spark.createDataFrame(
        [(i, f"tok{i % 7} alpha beta gamma delta tok{i % 3} epsilon zeta "
             f"eta theta iota kappa {i}") for i in range(n)],
        "doc_id long, text string",
    )


def test_repetition_signals_row_local(spark):
    from grafink_spark.llm import signals as sg

    plan = physical_plan(sg.document_signals(_docs(spark)))
    # sorted run-length folds: no explode, no shuffle, no join
    assert "Generate" not in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pii_is_narrow(spark):
    from grafink_spark.llm import pii as pi

    plan = physical_plan(pi.redact_pii(pi.pii_counts(_docs(spark))))
    # pure per-row projection: no exchange of any kind
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_contamination_broadcasts_benchmark(spark):
    from grafink_spark.llm.corpus import contamination

    docs = _docs(spark)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    plan = physical_plan(contamination(docs, bench, n=8))
    # benchmark gram set broadcasts; the corpus side never shuffles
    # before the (hit-rows-only) per-doc count
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_no_wide_shuffle(spark):
    from grafink_spark.llm.search import bm25_search

    plan = physical_plan(bm25_search(_docs(spark), "alpha beta", k=5))
    # allowed exchanges: the 1-row stats SinglePartition agg, broadcasts,
    # and local-scale round-robin fanout — never a keyed data shuffle
    bad = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert not bad, bad
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan  # term counts are row-local, no explode


def test_grouped_topk_rank_pushdown(spark):
    from grafink_spark.ops import grouped_topk

    df = _alerts(spark, 200)
    plan = physical_plan(
        grouped_topk(df, ["objectId"], [F.col("rfscore").desc(), "id"], 3)
    )
    # the rank filter must rewrite into a partial WindowGroupLimit
    # below the exchange (map-side top-k before the shuffle)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_chunk_dedup_two_shuffles(spark):
    df = spark.createDataFrame(
        [(i, "w " * 50) for i in range(100)], "doc_id long, text string"
    )
    plan = physical_plan(dd.chunk_dedup(df))
    # one hash shuffle on md5(chunk) for the window + one on doc_id for
    # reassembly; no joins anywhere
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "Join" not in plan


def test_mixture_sample_broadcasts_rates(spark):
    from grafink_spark.llm.corpus import mixture_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 5}") for i in range(500)], "doc_id long, source string"
    )
    plan = physical_plan(mixture_sample(df))
    # the corpus side joins the tiny rates table by broadcast — the big
    # table must never hash-shuffle
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lm_score_no_nested_loop(spark):
    from grafink_spark.llm.lm import lm_score

    df = spark.createDataFrame(
        [(i, "a b c d e " * 5) for i in range(50)], "doc_id long, text string"
    )
    plan = physical_plan(lm_score(df))
    # count-table joins must stay equi (hash/SMJ) — a nested loop here
    # would be quadratic in corpus size
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_inverted_index_two_aggs_no_join(spark):
    from grafink_spark.llm.search import inverted_index

    df = spark.createDataFrame(
        [(i, "x y z") for i in range(50)], "doc_id long, text string"
    )
    plan = physical_plan(inverted_index(df))
    assert "Join" not in plan
    # per-doc tf pre-agg + postings build: two hash shuffles
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2


def _events(spark, n=200):
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (
                i,
                i % 7,
                base + timedelta(minutes=17 * i),
                ["view", "click", "purchase"][i % 3],
                float(i % 50),
            )
            for i in range(n)
        ],
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double",
    )


def test_sliding_windows_single_shuffle(spark):
    from grafink_spark.timeseries import sliding_window_agg

    plan = physical_plan(sliding_window_agg(_events(spark)))
    assert plan.count("Exchange") == 1
    # window expansion happens map-side, before the one shuffle, and the
    # aggregation partial-aggregates there too
    assert "partial_count" in plan


def test_resample_ffill_no_join(spark):
    from grafink_spark.timeseries import resample_ffill

    plan = physical_plan(resample_ffill(_events(spark), key="user_id"))
    # gap rows come from lead+sequence explode, not a calendar join
    assert "Join" not in plan
    assert "Generate explode(sequence" in plan
    assert plan.count("Exchange") == 2  # (key,bucket) agg + key window


def test_funnel_single_key_shuffle(spark):
    from grafink_spark.timeseries import funnel_counts

    plan = physical_plan(
        funnel_counts(_events(spark), stages=["view", "click", "purchase"])
    )
    # the three stage windows and the per-key rollup all reuse ONE hash
    # exchange on the key; the only other exchange is the 1-row global
    non_broadcast = [
        l for l in plan.split("\n")
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert len(non_broadcast) == 2, non_broadcast
    assert sum("SinglePartition" in l for l in non_broadcast) == 1
    assert "Join" not in plan


def test_doc_chunks_no_shuffle(spark):
    from grafink_spark.llm.chunking import chunk_documents

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(10)],
        "doc_id long, text string",
    )
    plan = physical_plan(chunk_documents(docs))
    assert "Exchange" not in plan
    # tokens staged once per row: exactly one split() in the generate input
    assert "Generate posexplode" in plan


def test_merge_changes_broadcasts_changeset_antijoin(spark):
    from grafink_spark import cdc

    base = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("val")
    )
    changes = spark.createDataFrame(
        [(5, 0.0, "D", 1), (7, 1.5, "U", 1)],
        "k long, val double, _op string, _seq int",
    )
    plan = physical_plan(cdc.merge_changes(base, changes, "k"))
    # the base table must stream through a broadcast anti-join — no
    # shuffle of the 100-TB side on the merge key
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_hll_two_bounded_shuffles_with_partial_agg(spark):
    from grafink_spark import sketches as sk

    df = spark.range(0, 5000).select(
        (F.col("id") % 3).cast("string").alias("g"), F.col("id").alias("v")
    )
    plan = physical_plan(sk.hll_distinct(df, "g", "v"))
    # shuffle 1: (group, bucket) register agg; shuffle 2: register→group
    # rollup (input already ≤ m rows per group)
    exchanges = [l for l in plan.split("\n") if "Exchange" in l and "Broadcast" not in l]
    assert len(exchanges) <= 2, exchanges
    assert "partial_max" in plan or "partial" in plan.lower()


def test_ngram_span_coverage_reuses_window_aggregate(spark):
    from grafink_spark.llm.dedup import ngram_span_coverage

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j % 7}" for j in range(i, i + 12))) for i in range(30)],
        "doc_id long, text string",
    )
    plan = physical_plan(ngram_span_coverage(docs))
    # single lineage: the tokenize→explode scan appears exactly once
    # (a two-aggregate join formulation re-runs the explode because
    # column pruning defeats exchange reuse) and there is no join
    assert plan.count("Generate explode") == 1, plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_maybe_broadcast_gate():
    """maybe_broadcast applies the hint below the byte threshold and
    returns the frame unhinted above it (letting AQE decide)."""
    from grafink_spark.session import get_spark
    from grafink_spark.util import maybe_broadcast, plan_size_bytes

    spark = get_spark("plans-test")
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    sized = plan_size_bytes(df)
    assert sized is not None and sized > 0
    hinted = maybe_broadcast(df, max_bytes=1 << 40)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    unhinted = maybe_broadcast(df, max_bytes=1)
    assert "Hint" not in unhinted._jdf.queryExecution().analyzed().toString()


def test_nearest_join_single_shuffle_no_join(spark):
    """nearest_join: one group-key Exchange feeds both window scans;
    no join operator anywhere (the point of the sort-based plan)."""
    from grafink_spark.ops import nearest_join

    left = spark.createDataFrame(
        [(i % 5, i, float(i)) for i in range(100)], "g int, lid long, lv double"
    )
    right = spark.createDataFrame(
        [(i % 5, 200 + i, float(i) + 0.5) for i in range(50)],
        "g int, rid long, rv double",
    )
    plan = physical_plan(
        nearest_join(
            left, right, on="g", left_id="lid", left_val="lv",
            right_id="rid", right_val="rv",
        )
    )
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # union side-shuffles collapse into the single window partitioning
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_pca_covariance_hash_aggregates(spark):
    """The d² covariance explode must partial-aggregate as a
    HashAggregate (decimal buffers are hash-aggregable) — never a
    sort-based aggregate over the exploded pairs."""
    from grafink_spark.llm.pca import covariance_sums

    emb = spark.createDataFrame(
        [(i, [float(i), 2.0 * i, 0.5 * i]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    plan = physical_plan(covariance_sums(emb))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_new_headline_query_plans_stay_narrow(spark):
    """Round-2 sixth-batch queries: each plan holds its audited shape —
    at most one data shuffle, WindowGroupLimit where promised, no
    SortAggregate demotion, no nested-loop joins anywhere."""
    import grafink_spark.benchqueries as bq

    sf = "/root/testdata/sf0.001"
    budgets = {
        "session_windows": 1,
        "normalized_dedup": 1,
        "dataset_split": 1,   # the groupBy rollup; the split itself is 0
        "per_group_cap": 1,
        "hilbert_curve": 0,
    }
    for name, max_ex in budgets.items():
        plan = (
            bq.QUERIES[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n_ex = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        assert n_ex <= max_ex, f"{name}: {n_ex} exchanges"
        assert "SortAggregate" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    cap_plan = (
        bq.QUERIES["per_group_cap"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in cap_plan


def test_seventh_batch_query_plans_stay_narrow(spark):
    """Later round-2 headline queries hold their audited plan shapes.
    Budgets are the measured exchange counts at authoring time — a
    regression (extra shuffle, SortAggregate demotion, nested-loop
    join) fails here before it reaches the bench. The seasonal queries
    legitimately contain ONE BroadcastNestedLoopJoin: a cross join
    against a 1-row global-stats aggregate, which is the intended
    broadcast-scalar pattern, so they get a separate allowance."""
    import grafink_spark.benchqueries as bq

    sf = "/root/testdata/sf0.001"
    budgets = {
        "scd2_lookup": 2,
        "bloom_prefilter": 0,   # probe side: literal-array filter, no join
        "zipf_fit": 1,          # vocab count agg; top-n is TakeOrdered
        "degree_assortativity": 4,
        "pack_sequences": 0,
        "shard_packing": 0,
        "rolling_median": 1,
        "linear_attribution": 2,
        "last_touch_attribution": 2,
        "kfold_assign": 1,
    }
    for name, max_ex in budgets.items():
        plan = (
            bq.QUERIES[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n_ex = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        assert n_ex <= max_ex, f"{name}: {n_ex} exchanges"
        assert "SortAggregate" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    # bloom probe: no join operator at all
    bloom_plan = (
        bq.QUERIES["bloom_prefilter"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in bloom_plan
    # 1-row-broadcast scalar joins allowed, at the measured counts
    # (anomalies composes decompose's stats join + two more scalars)
    for name, max_bnlj in (("seasonal_decompose", 1), ("seasonal_anomalies", 3)):
        plan = (
            bq.QUERIES[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("BroadcastNestedLoopJoin") <= max_bnlj, name
        assert "CartesianProduct" not in plan, name


def test_eighth_batch_query_plans_stay_narrow(spark):
    """Late round-2 queries hold their audited shapes. hybrid_rrf's one
    BroadcastNestedLoopJoin is the 1-row-query broadcast in
    brute_force_topk; ranking_agreement's CartesianProduct is the
    k x k pair self-join over two top-20 lists (bounded by k², checked
    explicitly); drop_near_dups_best must stay SortAggregate-free (the
    two-phase primitive argmax exists for exactly that)."""
    import grafink_spark.benchqueries as bq

    sf = "/root/testdata/sf0.001"
    budgets = {
        "containment_pairs": 2,
        "minhash_estimate": 2,
        "readability": 0,
        "ewma_daily": 2,
        "cusum_anomalies": 3,
        "corpus_datasheet": 2,
        "vertex_jaccard": 7,
        "drop_near_dups_best": 9,
    }
    for name, max_ex in budgets.items():
        plan = (
            bq.QUERIES[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n_ex = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        assert n_ex <= max_ex, f"{name}: {n_ex} exchanges"
        assert "SortAggregate" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    rrf_plan = (
        bq.QUERIES["hybrid_rrf"](spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # two benign 1-row broadcasts: the cosine query vector and BM25's
    # corpus-stats row
    assert rrf_plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in rrf_plan
    ra_plan = (
        bq.QUERIES["ranking_agreement"](spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert ra_plan.count("CartesianProduct") <= 1
    assert "SortAggregate" not in ra_plan


def test_dsir_plan_broadcasts_model_and_takeordered(spark):
    """DSIR: no cartesian pair work; the ≤8k-row log-ratio model joins
    the per-doc counts via BROADCAST; top-k compiles to TakeOrdered
    (no global sort materialization)."""
    from grafink_spark.llm.corpus import dsir_select

    docs = _docs(spark)
    target = docs.where(F.col("doc_id") % 5 == 0)
    raw = docs.where(F.col("doc_id") % 5 != 0)
    plan = physical_plan(dsir_select(raw, target, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan


def test_betweenness_layered_joins_no_pairwise(spark):
    """Brandes layers: every join is an equi join against the
    pre-partitioned edge list — no cartesian, no nested loop."""
    from grafink_spark.graph.algorithms import betweenness_sampled

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    plan = physical_plan(betweenness_sampled(edges, [0], max_hops=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_maybe_broadcast_proxy_scale_gates_expanded_frames(spark):
    """A proxy that UNDER-estimates an expanded frame (IVF probes are
    ~nprobe x their raw query frame) must decline the hint once the
    scaled estimate crosses the ceiling — and keep it when it fits."""
    from grafink_spark.util import maybe_broadcast, plan_size_bytes

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    size = plan_size_bytes(df)
    assert size is not None and size > 0
    # ceiling just above the raw estimate: unscaled passes...
    hinted = maybe_broadcast(df, max_bytes=size + 1, size_proxy=df)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    # ...but a 4x expansion over the same proxy must be declined
    plain = maybe_broadcast(df, max_bytes=size + 1, size_proxy=df, proxy_scale=4.0)
    assert "ResolvedHint" not in plain._jdf.queryExecution().analyzed().toString()
