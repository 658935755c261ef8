"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <float>}

Timing is per-query wall time of plan + execute, best of
$SPARK_GRAFT_BENCH_ITERS runs (default 2 — steady-state, JIT/cache
warm); results are drained via collect (aggregates) or a noop-format
write (large row sets) so the full plan executes without driver-side
materialization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from grafink_spark.benchqueries import QUERIES  # noqa: E402
from grafink_spark.session import get_spark  # noqa: E402

# Headline set: grafink's core operator pipeline (similarity theta-join is
# the documented bottleneck — docs/Benchmarks.md §3), the graph read
# surface, plus the LLM-pipeline operators that dominate 100 TB work
# (dedup, similarity search, text analysis).
HEADLINE = [
    "similarity_edges",
    "similarity_multi",
    "similarity_histogram",
    "samevalue_clique",
    "samevalue_new_old",
    "twomode_direct",
    "assign_ids",
    "edge_degree",
    "pricing_summary",
    "shipping_priority",
    "hourly_windows",
    "user_sessions",
    "asof_join",
    "range_join",
    "exact_dedup",
    "minhash_signature",
    "lsh_candidates",
    "ssjoin_exact",
    "simhash",
    "embedding_topk",
    "text_stats",
    "repetition_signals",
    "contamination",
    "semantic_dedup",
    # NOTE: semantic_dedup_auto times the ORACLE-PINNED expr pair
    # backend (slow by declaration - bit-replayable in SQL); the
    # PRODUCTION default (arrow) is the semantic_dedup_arrow /
    # semantic_dedup_auto_arrow entries - read those as the
    # production cost. (bench_results notes carry the same caveat.)
    "semantic_dedup_auto",
    "semantic_dedup_arrow",
    "bm25_search",
    "pagerank",
    "chunk_dedup",
    "lm_score",
    "triangle_count",
    "grouped_topk",
    "sliding_windows",
    "resample_ffill",
    "doc_chunks",
    "edit_distance_pairs",
    "k_core",
    "merge_upsert",
    "approx_distinct",
    "dup_ngram_spans",
    "strip_dup_spans",
    "dedup_provenance",
    "bfs_distances",
    "adamic_adar",
    "shortest_paths",
    "salted_join",
    "local_supplier_volume",
    "zorder_curve",
    "token_budget_sample",
    "dsir_select",
    "semantic_contamination",
    "bitext_mine",
    "best_match",
    "incremental_agg",
    "weighted_sample",
    "doc_keywords",
    "bigram_pmi",
    "session_windows",
    "dataset_split",
    "normalized_dedup",
    "label_propagation",
    "nb_classify",
    "embedding_pca",
    "hilbert_curve",
    "per_group_cap",
    "promo_revenue",
    "disjunctive_revenue",
    "returned_items",
    "pca_components",
    "scd2_lookup",
    "asof_join_forward",
    "graph_components",
    "lang_quality_filter",
    "ann_recall",
    "phrase_merge",
    "join_size_estimate",
    "bloom_prefilter",
    "priority_exists",
    "kfold_assign",
    "pack_sequences",
    "seasonal_decompose",
    "personalized_pagerank",
    "betweenness",
    "pareto_parts",
    "pareto_suppliers",
    "frequent_sequences",
    "holt_trend",
    "variant_dedup",
    "ccnet_bucket_filter",
    "rouge_pairs",
    "bpe_apply",
    "apss_cosine",
    "cms_heavy_hitters",
    "group_kfold",
    "hard_triplets",
    "length_batching",
    "winsorize",
    "hist_quantile_sketch",
    "psi_drift",
    "snapshot_diff",
    "graph_modularity",
    "semantic_contamination_ivf",
    "gopher_filter",
    "corpus_diversity",
    "forecast_revenue",
    "katz_centrality",
    "woe_encoding",
    "large_orders",
    "order_count_distribution",
    "top_supplier",
    "zipf_fit",
    "rolling_median",
    "linear_attribution",
    "quantized_topk",
    "containment_pairs",
    "minhash_estimate",
    "hits_scores",
    "drop_near_dups_best",
    "event_transitions",
    "readability",
    "exact_median",
    "mmr_topk",
    "cusum_anomalies",
    "hybrid_rrf",
    "benford_audit",
    "k_anonymity",
    "ewma_daily",
    "ranking_agreement",
    "corpus_datasheet",
    "label_noise",
    "quantile_transform",
    "vertex_jaccard",
    "ewma_recursive",
    "target_encoding",
    "entropy_profile",
    "neighbor_features",
    "negative_edges",
    "normalized_adjacency",
]

# Every registered query not in the curated HEADLINE ordering above is
# benched too (round-3 ask: no registered query without a recorded
# timing) — appended in sorted order so BENCH_r{N} covers the FULL
# registry. Computed at import so newly registered queries can't be
# silently dropped from the bench.
EXTENDED = sorted(set(QUERIES) - set(HEADLINE))

# Queries whose full row set is large: drain with a `noop`-format write
# instead of .collect() — executes the complete plan (no column pruning
# of the result, unlike count()) without materializing on the driver.
NOOP_DRAIN = {
    "user_sessions",
    "asof_join",
    "range_join",
    "similarity_edges",
    "similarity_multi",
    "samevalue_clique",
    "samevalue_new_old",
    "twomode_direct",
    "assign_ids",
    "exact_dedup",
    "minhash_signature",
    "lsh_candidates",
    "ssjoin_exact",
    "repetition_signals",
    "semantic_dedup",
    "semantic_dedup_auto",
    "semantic_dedup_arrow",
    "simhash",
    "text_stats",
    "pagerank",
    "chunk_dedup",
    "lm_score",
    "triangle_count",
    "grouped_topk",
    "sliding_windows",
    "resample_ffill",
    "doc_chunks",
    "edit_distance_pairs",
    "k_core",
    "merge_upsert",
    "dup_ngram_spans",
    "strip_dup_spans",
    "dedup_provenance",
    "bfs_distances",
    "adamic_adar",
    "shortest_paths",
    "salted_join",
    "zorder_curve",
    "token_budget_sample",
    "best_match",
    "doc_keywords",
    "bigram_pmi",
    "session_windows",
    "normalized_dedup",
    "label_propagation",
    "nb_classify",
    "hilbert_curve",
    "per_group_cap",
    "scd2_lookup",
    "asof_join_forward",
    "graph_components",
    "lang_quality_filter",
    "phrase_merge",
    "bloom_prefilter",
    "pack_sequences",
    "personalized_pagerank",
    "betweenness",
    "rolling_median",
    "containment_pairs",
    "minhash_estimate",
    "drop_near_dups_best",
    "event_transitions",
    "readability",
    "ewma_daily",
    "cusum_anomalies",
    "label_noise",
    "quantile_transform",
    "vertex_jaccard",
    "ewma_recursive",
    "target_encoding",
    "entropy_profile",
    "neighbor_features",
    "negative_edges",
    "normalized_adjacency",
}


# Queries excluded from the sf1 section (module-level so the sf1
# scaling harness, tools/sf1scale.py, times the identical set):
# quadratic-by-semantics entries — similarity_multi's OUTPUT,
# semantic_dedup's pinned-nlist pair space (the count-derived
# semantic_dedup_auto runs in its dedicated block instead), and
# label_noise's all-pairs kNN (O(n^2) cosines — the scale path is the
# IVF/LSH ANN family, measured separately).
SF1_SKIP = {
    "similarity_multi",
    "semantic_dedup",
    "semantic_dedup_auto",  # timed by main()'s dedicated block
    "label_noise",
    # label-blocked ALL-PAIRS cosine: blocks grow linearly with
    # sf, so within-block pair work is quadratic-by-semantics —
    # the scale path is the LSH/IVF ANN family, timed above
    "embedding_near_pairs",
    # label_noise_ivf / bitext_mine_ivf run here since round 7:
    # their nlist is COUNT-DERIVED (max(8, ceil(sqrt(N))), the
    # oracle replays it as a scalar subquery), so the candidate
    # volume is ~nprobe·N^1.5 — the round-6 pinned nlist=8 kept
    # n²/2 candidates and hung at this scale.
    # the forced-arrow twin keeps the APSS scale backend
    # oracle-checked + sf0.1-timed; at sf1 the auto entry
    # (apss_cosine) resolves to the ARROW backend (5.3M
    # candidates ≥ the 500k floor, r9), so timing the twin here
    # would measure the same plan twice.
    "apss_cosine_arrow",
}


def _artifact_path() -> str | None:
    """Where a full run writes its per-query artifact, or None with the
    reason on stderr. The round comes only from SPARK_GRAFT_ROUND
    (inferring it from the files present once wrote a stray round),
    and an existing artifact is never overwritten."""
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is None:
        print(
            "# no bench_results artifact will be written: "
            "set SPARK_GRAFT_ROUND=<round> to write one",
            file=sys.stderr,
        )
        return None
    root = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(root, f"bench_results_r{int(rnd):02d}.json")
    if os.path.exists(path):
        print(
            f"# no bench_results artifact will be written: {path} "
            "exists and is never overwritten (pick another "
            "SPARK_GRAFT_ROUND)",
            file=sys.stderr,
        )
        return None
    return path


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    spark = get_spark("grafink-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/parquet footers once so per-query numbers measure the
    # queries, not session startup.
    QUERIES["max_id"](spark, sf_dir).collect()

    # floor of 1: zero iterations would leave every sample list empty
    # and min() would crash after the warm-up scans already ran
    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2")))
    # Smoke-run subset: SPARK_GRAFT_BENCH_ONLY=q1,q2 limits the headline
    # set (local iteration / CI smoke); unset = full headline set.
    all_names = HEADLINE + EXTENDED
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        headline = [q for q in all_names if q in wanted]
        unknown = wanted - set(all_names)
        if unknown:
            print(f"# BENCH_ONLY: not registered: {sorted(unknown)}", file=sys.stderr)
    else:
        headline = all_names
    artifact_file = None if only else _artifact_path()
    if not only:
        # Pre-touch every input table (full scan into the OS page
        # cache): the first query to read a cold multi-MB table
        # otherwise pays its IO, so per-query numbers would depend on
        # bench ORDER — the apss_cosine driver-vs-builder gap in round
        # 3 was exactly this first-touch effect inside the driver's
        # single-session sweep. Skipped for BENCH_ONLY smoke subsets
        # (10 full scans would dominate a 1-query run; best-of-iters
        # absorbs the first-touch there).
        from grafink_spark.sources.tables import TABLES, load_table  # noqa: E402

        for t in TABLES:
            try:
                load_table(spark, sf_dir, t).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # missing table at this sf: first query pays IO
    def loadavg1() -> float:
        # 1-min loadavg at query start: the per-query contention marker
        # (round-5 verdict ask #5 — ~66 s of that round's driver
        # headline was machine noise diagnosable only by hand). On a
        # 32-core box, loadavg >> 32 while a query runs means OTHER
        # processes were competing for the cores. CAVEAT (measured r9):
        # on this VM's kernel loadavg reads 20+ while vmstat shows 100%
        # idle and zero D-state threads — it decays over ~15 min and
        # cannot adjudicate contention alone; read it together with the
        # memweather probe below.
        try:
            return round(os.getloadavg()[0], 1)
        except OSError:
            return -1.0

    def memweather() -> dict:
        # Host memory "weather" probe (r9). Measured on this VM:
        # copies between PRE-TOUCHED buffers run a rock-stable
        # ~16 GB/s, while FIRST-TOUCH of freshly mmapped pages
        # intermittently collapses 30-100x (a 256 MB first-touch copy
        # swung 0.37 s - 11.7 s across consecutive minutes on an idle
        # guest) — the host demand-allocates guest pages and its fault
        # path is sometimes pathologically slow. Anything that grows
        # memory mid-query (JVM heap expansion, Arrow/netty buffers,
        # shuffle maps, fresh Python-worker arenas) can therefore run
        # 2-10x slow with zero code cause; identical queries measured
        # 16.6 / 29.6 / 34 / 68 / 107 s across idle same-code sessions
        # while a cache-resident CPU loop stayed within 10%. This is
        # the measured mechanism behind the r7 "contention stretch",
        # r8's cms_heavy_hitters flag, and the skew-pair bimodality.
        # fresh_gbps: MB/ms of faulting+writing a fresh 64 MB mapping
        # (numpy frees >128 KB blocks via munmap, so every probe call
        # faults genuinely fresh pages). touched_gbps: copy bandwidth
        # between those now-touched buffers. Healthy ≈ 1-2 / ~16;
        # fresh_gbps << 0.5 = bad weather for every sample near it.
        import numpy as np

        sz = 1 << 26  # 64 MB
        t0 = time.perf_counter()
        a = np.ones(sz, dtype=np.uint8)
        fresh = sz / max(time.perf_counter() - t0, 1e-9) / 1e9
        b = np.ones(sz, dtype=np.uint8)
        t0 = time.perf_counter()
        np.copyto(b, a)
        touched = sz / max(time.perf_counter() - t0, 1e-9) / 1e9
        del a, b
        return {
            "fresh_gbps": round(fresh, 2),
            "touched_gbps": round(touched, 1),
        }

    memw: list[dict] = []
    # fresh_gbps of the most recent probe: every sample taken after a
    # probe is tagged with it, so the artifact can tell "this number
    # was measured inside a degraded-bandwidth window" mechanically
    # instead of by hand (r9 verdict ask #1 — three rounds of
    # adjudication were spent reconstructing exactly this by eye).
    last_fresh = [0.0]
    # a probe below this is the documented collapse signature (healthy
    # first-touch is ~1-2 GB/s on this VM; degraded windows read
    # 0.01-0.05). Samples near such a probe are weather-suspect.
    WEATHER_FRESH_MIN = float(
        os.environ.get("SPARK_GRAFT_WEATHER_FRESH_MIN", "0.5")
    )

    def weather(phase: str) -> float:
        w = memweather()
        w["phase"] = phase
        memw.append(w)
        last_fresh[0] = w["fresh_gbps"]
        print(f"# memweather {phase}: {w}", file=sys.stderr)
        return last_fresh[0]

    def run_once(name: str, dir_: str) -> float:
        fn = QUERIES[name]
        t0 = time.perf_counter()
        df = fn(spark, dir_)
        # EXTENDED entries drain via noop too: executes the full
        # plan with zero driver-side materialization regardless of
        # result size.
        if name in NOOP_DRAIN or name in EXTENDED:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        return round(time.perf_counter() - t0, 3)

    # Pass-SEPARATED iterations (round-7 verdict Missing #1): the old
    # per-query back-to-back best-of-2 put both samples of a query
    # inside the same wall-clock window, so one multi-minute burst of
    # external load poisoned BOTH iterations of every query it
    # overlapped — bench_diff's own detector flagged 36 spurious r07
    # "regressions" in one contiguous run-order stretch. Running each
    # iteration as its own full sweep puts the whole suite's duration
    # between a query's samples; a contention window would have to
    # recur at the same run-order position to survive the min. Same
    # total work as before — the iterations are reordered, not added.
    samples: dict[str, list[float]] = {name: [] for name in headline}
    loadavgs: dict[str, list[float]] = {name: [] for name in headline}
    # fresh_gbps of the probe nearest (before) each sample, index-
    # aligned with samples[q] — the per-sample weather tag (r10)
    sample_fresh: dict[str, list[float]] = {name: [] for name in headline}
    for p in range(iters):
        for i, name in enumerate(headline):
            if i % 25 == 0:
                weather(f"pass{p}@{i}")
            loadavgs[name].append(loadavg1())
            sample_fresh[name].append(last_fresh[0])
            t = run_once(name, sf_dir)
            samples[name].append(t)
            print(f"# pass{p} {name}: {t:.3f}s", file=sys.stderr)
    timings = {n: round(min(s), 3) for n, s in samples.items()}
    # Third safeguard, mirroring the sf1 loop: one extra run of the
    # slowest N — they dominate the headline total, so per second of
    # re-run budget they are where residual contention distorts the
    # round-over-round diff most. Every observation stays in `samples`
    # (the artifact records them all; `queries` is the per-query min).
    rerun_n = int(os.environ.get("SPARK_GRAFT_SF_RERUN", "25"))
    weather("sf_rerun")
    rerun = sorted(timings, key=timings.get, reverse=True)[:rerun_n]
    # Weather gate (r10, r9 verdict ask #1): any query whose EVERY
    # sample so far was taken near a collapsed probe
    # (fresh < WEATHER_FRESH_MIN) gets a re-run slot too — its min is
    # uninterpretable until at least one sample lands in an OK window.
    # Capped (slowest first, they dominate the total) so a fully
    # degraded run cannot double the driver's wall clock.
    wcap = int(os.environ.get("SPARK_GRAFT_WEATHER_RERUN", "60"))
    suspects = [
        n
        for n in sorted(timings, key=timings.get, reverse=True)
        if n not in rerun
        and all(f < WEATHER_FRESH_MIN for f in sample_fresh[n])
    ][:wcap]
    if suspects:
        print(
            f"# weather rerun: {len(suspects)} suspect queries",
            file=sys.stderr,
        )
    for j, name in enumerate(rerun + suspects):
        # loadavg recorded for the re-run too: samples[q] and
        # loadavgs[q] stay index-aligned, so a reader can tell which
        # load was behind whichever sample became the kept min
        if j and j % 10 == 0:
            weather(f"sf_rerun@{j}")
        loadavgs[name].append(loadavg1())
        sample_fresh[name].append(last_fresh[0])
        again = run_once(name, sf_dir)
        samples[name].append(again)
        if again < timings[name]:
            print(
                f"# rerun {name}: {timings[name]:.3f}s -> {again:.3f}s",
                file=sys.stderr,
            )
            timings[name] = again
    # per-query verdict: at least one sample was taken near a healthy
    # probe. False means every number for this query is weather-band.
    weather_ok = {
        n: any(f >= WEATHER_FRESH_MIN for f in sample_fresh[n])
        for n in headline
    }

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }

    # Scale-stress section (SCALE.md experiments as measured entries):
    # synthetic workloads independent of sf_dir, run once each (they are
    # sized in the tens-of-millions-of-edges range). Not folded into
    # "value" so the headline metric stays comparable across rounds.
    # SPARK_GRAFT_STRESS=0 skips; SPARK_GRAFT_STRESS_SCALE scales rows.
    if os.environ.get("SPARK_GRAFT_STRESS", "1") != "0":
        from grafink_spark.stress import STRESS  # noqa: E402

        stress_scale = float(os.environ.get("SPARK_GRAFT_STRESS_SCALE", "1.0"))
        # the skew entries emit C(hot,2) ≈ 800M pairs at scale 1 — run
        # them at half scale (~200M pairs) to keep the round short
        per_entry = {
            "skew_clique": 0.5 * stress_scale,
            "similarity_skew": 0.5 * stress_scale,
            # the numeric A/B only needs enough edges for a stable
            # ratio (decimal ≈ 4x double at any size past ~1M edges)
            "pagerank_exact": 0.25 * stress_scale,
            "pagerank_double": 0.25 * stress_scale,
        }
        # Two pass-separated sweeps, min kept (same rationale as the
        # headline loop): stress entries were single-shot, and both
        # r07 and r08 artifacts carried a contended skew-pair number
        # that needed a hand re-run to explain. All samples recorded,
        # each with its loadavg (r9 — the skew-pair "bimodality" the
        # r8 verdict flagged bisected to per-session one-time plan
        # compilation, NOT contention: fresh-session ann_ivf_skew_hot
        # alone runs 15.3 → 4.9 → 4.1 s on an idle box, so sample 0
        # of any stress entry carries its plan's compile cost and the
        # min is the steady-state number; loadavg lets a reader rule
        # contention in or out per sample instead of by anecdote).
        stress: dict[str, float] = {}
        stress_samples: dict[str, list[float]] = {n: [] for n in STRESS}
        stress_loadavg: dict[str, list[float]] = {n: [] for n in STRESS}
        weather("stress")

        def stress_once(name: str, fn) -> None:
            stress_loadavg[name].append(loadavg1())
            t0 = time.perf_counter()
            fn(spark, per_entry.get(name, stress_scale)).write.format(
                "noop"
            ).mode("overwrite").save()
            stress_samples[name].append(round(time.perf_counter() - t0, 3))
            print(
                f"# stress {name}: {stress_samples[name][-1]:.3f}s",
                file=sys.stderr,
            )

        for _ in range(2):
            for name, fn in STRESS.items():
                stress_once(name, fn)
        # Unstable entries get ONE extra sample: with both sweep
        # samples ≥1.5× apart, the min rests on a single observation —
        # a third confirms it is the steady state, not a fluke.
        # ann_ivfpq_build is exempt: its pass-2+ samples measure the
        # index cache hit BY DESIGN, so divergence there is expected
        # and the honest number is the FIRST sample.
        for name, fn in STRESS.items():
            s = stress_samples[name]
            if name != "ann_ivfpq_build" and max(s) >= 1.5 * min(s):
                stress_once(name, fn)
        stress = {
            n: (s[0] if n == "ann_ivfpq_build" else min(s))
            for n, s in stress_samples.items()
        }
        out["scale_stress"] = stress
        out["scale_stress_samples"] = stress_samples
        out["scale_stress_loadavg"] = stress_loadavg

    # sf1 section: the headline set at 10× the default scale, over data
    # synthesized from sf0.1 by key-offset replication (sfgen.py,
    # generated once and cached in-repo) — catches operators whose
    # constants hide at small scale. One iteration (throughput check,
    # not a steady-state microbenchmark). Excluded: similarity_multi
    # (threshold-branch OUTPUT is quadratic in sf — the query's
    # semantics) and semantic_dedup (its oracle pins nlist=8, so the
    # per-cluster pair space grows quadratically with the corpus; the
    # count-derived-nlist default is timed separately below as
    # semantic_dedup_auto). SPARK_GRAFT_SF1=0 skips.
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        from grafink_spark.sfgen import ensure  # noqa: E402

        sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR") or ensure()
        if not only:
            # pre-touch sf1 tables into the OS page cache (mirrors the
            # sf0.1 loop): three rounds running, the biggest "sf1
            # regressions" were first-touch IO + machine noise in
            # whichever queries ran first over a cold table
            from grafink_spark.sources.tables import TABLES, load_table

            for t in TABLES:
                try:
                    load_table(spark, sf1_dir, t).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception:
                    pass
        sf1_timings: dict[str, float] = {}
        weather("sf1")
        sf1_skip = SF1_SKIP
        sf1_samples: dict[str, list[float]] = {}
        sf1_loadavgs: dict[str, list[float]] = {}
        sf1_fresh: dict[str, list[float]] = {}
        for i, name in enumerate([q for q in headline if q not in sf1_skip]):
            if i and i % 25 == 0:
                weather(f"sf1@{i}")
            sf1_loadavgs[name] = [loadavg1()]
            sf1_fresh[name] = [last_fresh[0]]
            # run_once drains EXTENDED via noop here too — mirrors the
            # sf0.1 loop, so the two sections time the same work and a
            # wide-result EXTENDED query can't OOM the driver at sf1
            sf1_timings[name] = run_once(name, sf1_dir)
            sf1_samples[name] = [sf1_timings[name]]
            print(f"# sf1 {name}: {sf1_timings[name]:.3f}s", file=sys.stderr)
        # Single-iteration sf1 numbers are noisy (round-6 verdict ask
        # #5: spurious 2-4x "regressions" in untouched code every
        # round). Re-run the slowest N once and keep the min — the
        # slow tail is where one contended iteration distorts the
        # round-over-round diff the most per second of re-run budget.
        # BOTH observations land in the artifact's sf1_samples (the
        # round-7 advisor flagged that silently keeping the min both
        # hides the policy from cross-round comparisons and can mask
        # real contention); sf1 stays the per-query min.
        rerun_n = int(os.environ.get("SPARK_GRAFT_SF1_RERUN", "20"))
        weather("sf1_rerun")
        sf1_rerun = sorted(
            sf1_timings, key=sf1_timings.get, reverse=True
        )[:rerun_n]
        # weather gate, mirroring the sf0.1 pass: single-sample sf1
        # rows whose one observation sits in a collapsed window get a
        # second chance (slowest first, capped)
        wcap1 = int(os.environ.get("SPARK_GRAFT_SF1_WEATHER_RERUN", "30"))
        sf1_suspects = [
            n
            for n in sorted(sf1_timings, key=sf1_timings.get, reverse=True)
            if n not in sf1_rerun
            and all(f < WEATHER_FRESH_MIN for f in sf1_fresh[n])
        ][:wcap1]
        if sf1_suspects:
            print(
                f"# sf1 weather rerun: {len(sf1_suspects)} suspect queries",
                file=sys.stderr,
            )
        for j, name in enumerate(sf1_rerun + sf1_suspects):
            if j and j % 10 == 0:
                weather(f"sf1_rerun@{j}")
            sf1_loadavgs[name].append(loadavg1())
            sf1_fresh[name].append(last_fresh[0])
            again = run_once(name, sf1_dir)
            sf1_samples[name].append(again)
            if again < sf1_timings[name]:
                print(
                    f"# sf1 rerun {name}: {sf1_timings[name]:.3f}s -> "
                    f"{again:.3f}s",
                    file=sys.stderr,
                )
                sf1_timings[name] = again
        sf1_weather_ok = {
            n: any(f >= WEATHER_FRESH_MIN for f in fs)
            for n, fs in sf1_fresh.items()
        }
        # semantic dedup at the API default: count-derived nlist
        # (max(8, ceil(N/target_per_list)) — per-vector pair work
        # constant as the corpus grows)
        if not only or "semantic_dedup_auto" in only:
            from grafink_spark.llm.dedup import semantic_dedup  # noqa: E402
            from grafink_spark.sources.tables import load_table  # noqa: E402

            # both pair backends on the count-derived default: the expr
            # path is the oracle-exact one, the arrow path is the BLAS
            # production fast path (identical survivors, ~10x/pair)
            for backend in ("expr", "arrow"):
                key = (
                    "semantic_dedup_auto"
                    if backend == "expr"
                    else "semantic_dedup_auto_arrow"
                )
                t0 = time.perf_counter()
                semantic_dedup(
                    load_table(spark, sf1_dir, "embeddings"),
                    iters=1,
                    threshold=0.3,
                    pair_backend=backend,
                ).write.format("noop").mode("overwrite").save()
                sf1_timings[key] = round(time.perf_counter() - t0, 3)
                print(
                    f"# sf1 {key}: {sf1_timings[key]:.3f}s", file=sys.stderr
                )
        out["sf1"] = {
            "total": round(sum(sf1_timings.values()), 3),
            "queries": sf1_timings,
        }

    # Complete machine-readable per-query artifact (round-4 verdict ask:
    # the driver's BENCH tail caps at 2000 chars, so only the last ~70
    # of 226 per-query timings survived — round-over-round regression
    # diffs need ALL of them). Written to the repo root as
    # bench_results_r{n}.json, n = SPARK_GRAFT_ROUND (_artifact_path).
    # Smoke subsets (BENCH_ONLY) never write it.
    # Prefix-filter effectiveness counters for the two lossless
    # set-similarity joins — the slowest sf1 rows (round-6 verdict ask
    # #4: "lossless by design" is only a defensible cost while the
    # prefix filter discriminates, and timings alone can't show that).
    # Diagnostics pass OUTSIDE the timed loops; skipped for smoke
    # subsets. SPARK_GRAFT_FILTER_STATS=0 skips.
    filter_stats: dict[str, dict] = {}
    if not only and os.environ.get("SPARK_GRAFT_FILTER_STATS", "1") != "0":
        from grafink_spark.llm.dedup import (  # noqa: E402
            apss_filter_stats,
            ssjoin_filter_stats,
        )
        from grafink_spark.sources.tables import load_table  # noqa: E402
        from grafink_spark.util import ensure_min_partitions  # noqa: E402

        stat_dirs = {"sf0.1": sf_dir}
        if "sf1" in out:
            stat_dirs["sf1"] = sf1_dir
        for tag, d in stat_dirs.items():
            docs = ensure_min_partitions(load_table(spark, d, "documents"))
            t0 = time.perf_counter()
            filter_stats[f"ssjoin_exact@{tag}"] = ssjoin_filter_stats(
                docs, k=3, threshold=0.5
            )
            filter_stats[f"apss_cosine@{tag}"] = apss_filter_stats(
                docs, threshold=(9, 10), k=3
            )
            print(
                f"# filter_stats {tag}: {filter_stats[f'ssjoin_exact@{tag}']}"
                f" / {filter_stats[f'apss_cosine@{tag}']}"
                f" ({time.perf_counter() - t0:.1f}s)",
                file=sys.stderr,
            )
        out["filter_stats"] = filter_stats

    if not only:
        weather("end")
    if artifact_file:
        artifact = {
            "round": int(os.environ["SPARK_GRAFT_ROUND"]),
            "sf": sf,
            "queries": timings,
            # EVERY observation per query, in run order (pass 0, pass
            # 1, then the slow-tail re-run if taken): `queries` is the
            # per-query min, and a cross-round reader can see exactly
            # which runs produced it instead of trusting an overwrite
            "samples": samples,
            # per-query 1-min loadavg at each pass's query start + the
            # run order: bench_diff.py uses both to flag "a contiguous
            # run-order stretch regressed together under high load" as
            # machine contention rather than a code regression
            "loadavg": loadavgs,
            "memweather": memw,
            # r10 weather gate: fresh_gbps of the probe nearest each
            # sample (index-aligned with `samples`), and the per-query
            # verdict — False means EVERY sample of that query was
            # taken inside a collapsed-bandwidth window and its number
            # is weather-band, not steady state
            "sample_fresh": sample_fresh,
            "weather_ok": weather_ok,
            "run_order": headline,
            "notes": {
                "methodology": (
                    "since round 8 the sf0.1 iterations run as "
                    "pass-separated full sweeps plus a slow-tail "
                    "re-run (min kept, all samples recorded); rounds "
                    "<= 7 were back-to-back best-of-2, so cross-round "
                    "diffs against r07 and earlier mix this policy "
                    "change with real movement"
                ),
                "semantic_dedup_auto": (
                    "oracle-pinned expr pair backend; the PRODUCTION "
                    "default (arrow) is timed as semantic_dedup_arrow / "
                    "semantic_dedup_auto_arrow"
                ),
                "label_noise_ivf": (
                    "count-derived nlist (max(8, ceil(sqrt(N))), "
                    "sampled 64x-nlist training) since round 7 — sf1 "
                    "runs where the round-6 pinned nlist=8 hung; at "
                    "sf0.1 (n=2000) the brute form's 2-job plan still "
                    "wins on fixed overhead, crossover is before sf1"
                ),
                "bitext_mine_ivf": (
                    "count-derived nlist trained on the b slice since "
                    "round 7; exact A-x-B form stays the oracle anchor"
                ),
                "weather_gate": (
                    "r10: sample_fresh tags every sample with the "
                    "nearest probe's fresh_gbps; queries whose every "
                    "sample sat near a probe under "
                    "SPARK_GRAFT_WEATHER_FRESH_MIN (default 0.5) are "
                    "re-run in the slow-tail pass (capped, slowest "
                    "first) and flagged weather_ok=false if still "
                    "unconfirmed; the one-line JSON adds weather_ok / "
                    "weather_fresh_median_gbps / "
                    "weather_suspect_queries (additions only — timed "
                    "regions and existing fields unchanged)"
                ),
                "memweather": (
                    "host memory weather probes (r9): fresh_gbps = "
                    "first-touch bandwidth of a fresh 64 MB mapping, "
                    "touched_gbps = copy bandwidth over pre-touched "
                    "pages. On this VM touched is stable ~16 GB/s "
                    "while fresh intermittently collapses 30-100x "
                    "(host-side demand allocation) — samples taken "
                    "near a fresh_gbps << 0.5 window are weather, not "
                    "code; loadavg on this kernel is unreliable "
                    "(reads 20+ on a vmstat-idle guest)"
                ),
            },
        }
        if "scale_stress" in out:
            artifact["scale_stress"] = out["scale_stress"]
            artifact["scale_stress_samples"] = out["scale_stress_samples"]
            artifact["scale_stress_loadavg"] = out["scale_stress_loadavg"]
        if "sf1" in out:
            artifact["sf1"] = out["sf1"]["queries"]
            artifact["sf1_samples"] = sf1_samples
            artifact["loadavg_sf1"] = sf1_loadavgs
            artifact["sf1_sample_fresh"] = sf1_fresh
            artifact["sf1_weather_ok"] = sf1_weather_ok
        if filter_stats:
            artifact["filter_stats"] = filter_stats
        with open(artifact_file, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"# wrote {artifact_file}", file=sys.stderr)

    # Run-level weather verdict (r10, additions-only fields): median
    # fresh-touch bandwidth over every probe of the run, plus how many
    # queries never got a sample in a healthy window. A reader (or
    # PERF tooling) can separate "this run's numbers are steady-state"
    # from "this run executed inside the documented bandwidth
    # collapse" mechanically.
    fresh_all = sorted(w["fresh_gbps"] for w in memw)
    fresh_median = fresh_all[len(fresh_all) // 2] if fresh_all else -1.0
    n_suspect = sum(1 for v in weather_ok.values() if not v)
    if "sf1" in out:
        n_suspect += sum(1 for v in sf1_weather_ok.values() if not v)
    out["weather_ok"] = fresh_median >= WEATHER_FRESH_MIN
    out["weather_fresh_median_gbps"] = round(fresh_median, 2)
    out["weather_suspect_queries"] = n_suspect
    print(json.dumps(out))
    # Compact summary LAST: the full JSON line (100+ queries) can exceed
    # the driver's captured stdout tail, front-truncating the one line it
    # parses. A short trailing line always survives truncation.
    print(
        json.dumps(
            {
                "metric": out["metric"],
                "value": out["value"],
                "unit": out["unit"],
                "sf": out["sf"],
                "n_queries": len(timings),
                "weather_ok": out["weather_ok"],
                "weather_fresh_median_gbps": out[
                    "weather_fresh_median_gbps"
                ],
                "weather_suspect_queries": n_suspect,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
