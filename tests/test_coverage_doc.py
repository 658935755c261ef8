"""Docs can't drift from the registry: the query counts printed in
COVERAGE.md and README.md must equal the live registry sizes, and the
registry is the one place a query's facts are declared."""

from __future__ import annotations

import re
from pathlib import Path

from grafink_spark.benchqueries import ORACLES, QUERIES

ROOT = Path(__file__).resolve().parent.parent


def test_registry_is_fully_oracled():
    assert set(QUERIES) == set(ORACLES), (
        "every queries() entry needs an oracle_sql() twin"
    )


def test_coverage_md_counts_match_registry():
    text = (ROOT / "COVERAGE.md").read_text()
    m = re.search(
        r"\*\*(\d+) registered queries, (\d+) oracle SQL twins", text
    )
    assert m, "COVERAGE.md Status line missing or reformatted"
    assert int(m.group(1)) == len(QUERIES), "COVERAGE.md query count drifted"
    assert int(m.group(2)) == len(ORACLES), "COVERAGE.md oracle count drifted"


def test_readme_counts_match_registry():
    text = (ROOT / "README.md").read_text()
    for n in re.findall(r"(\d+)\s+(?:declared|registered)\s+queries", text):
        assert int(n) == len(QUERIES), f"README.md says {n}, registry has {len(QUERIES)}"


# Generic plumbing every row calls; reaching only these tests Spark
# against DuckDB, not this engine.
PLUMBING = {"load_table", "pin", "maybe_broadcast", "ensure_min_partitions"}


def test_every_registered_query_reaches_an_engine_module():
    """Static walk of benchqueries.py, no Spark session: each register()
    row's callable must name something imported from grafink_spark
    (other than PLUMBING), itself or through the module's helper and
    q_* functions it calls."""
    import ast

    tree = ast.parse((ROOT / "grafink_spark" / "benchqueries.py").read_text())
    engine = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("grafink_spark"):
            engine |= {a.asname or a.name for a in node.names}
    engine -= PLUMBING
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    calls = {
        name: {x.id for x in ast.walk(fn) if isinstance(x, ast.Name)}
        for name, fn in funcs.items()
    }

    def reaches(name, seen):
        seen.add(name)
        return bool(calls[name] & engine) or any(
            reaches(m, seen) for m in calls[name] & funcs.keys() - seen
        )

    rows = [
        (n.value.args[0].value, n.value.args[1].id)
        for n in tree.body
        if isinstance(n, ast.Expr)
        and isinstance(n.value, ast.Call)
        and getattr(n.value.func, "id", None) == "register"
    ]
    assert [q for q, _ in rows] == list(QUERIES)
    unreached = [q for q, fn in rows if not reaches(fn, set())]
    assert not unreached, f"rows that reach no engine module: {unreached}"


# The 50 queries bench.py drains with collect(); every other one drains
# through a noop write. Changing a drain mode changes what the bench times.
COLLECT = {
    "ann_recall", "approx_distinct", "apss_cosine", "bitext_mine",
    "bm25_search", "bpe_apply", "ccnet_bucket_filter", "cms_heavy_hitters",
    "contamination", "corpus_datasheet", "corpus_diversity", "dataset_split",
    "dsir_select", "edge_degree", "embedding_pca", "embedding_topk",
    "exact_median", "frequent_sequences", "gopher_filter", "graph_modularity",
    "group_kfold", "hard_triplets", "hist_quantile_sketch", "hits_scores",
    "holt_trend", "hourly_windows", "hybrid_rrf", "incremental_agg",
    "join_size_estimate", "k_anonymity", "katz_centrality", "kfold_assign",
    "length_batching", "linear_attribution", "mmr_topk", "pareto_parts",
    "pareto_suppliers", "pca_components", "psi_drift", "quantized_topk",
    "ranking_agreement", "rouge_pairs", "seasonal_decompose",
    "semantic_contamination", "semantic_contamination_ivf",
    "similarity_histogram", "snapshot_diff", "variant_dedup", "winsorize",
    "zipf_fit",
}
NOT_SF1 = {
    "apss_cosine_arrow", "embedding_near_pairs", "label_noise",
    "semantic_dedup", "similarity_multi",
}


def test_registry_is_the_only_declaration():
    """QUERIES and ORACLES are views of REGISTRY (same keys, same order,
    the same oracle object), the drain modes and sf1 membership are the
    bench's, and register() refuses a duplicate or an unknown drain."""
    import pytest

    from grafink_spark.benchqueries import REGISTRY, register

    assert list(REGISTRY) == list(QUERIES) == list(ORACLES)
    for n, q in REGISTRY.items():
        assert QUERIES[n] is q.fn and ORACLES[n] is q.oracle
    assert {n for n, q in REGISTRY.items() if q.drain == "collect"} == COLLECT
    assert {q.drain for q in REGISTRY.values()} == {"noop", "collect"}
    assert {n for n, q in REGISTRY.items() if not q.sf1} == NOT_SF1

    q = REGISTRY["assign_ids"]
    with pytest.raises(ValueError, match="twice"):
        register("assign_ids", q.fn, q.oracle)
    with pytest.raises(ValueError, match="drain"):
        register("assign_ids_collect_all", q.fn, q.oracle, drain="count")
    assert "assign_ids_collect_all" not in REGISTRY


def test_bench_artifact_partitions_registry():
    """The complete per-query bench artifact (bench_results_r{n}.json,
    written by a full bench.py run) must cover the registry exactly —
    so round-over-round regression diffs are mechanical instead of
    reconstructed from a truncated stdout tail. When a query is
    registered after the artifact was written, this fails until bench
    re-runs: the artifact may never silently under-cover the registry."""
    import json

    artifacts = sorted(ROOT.glob("bench_results_r*.json"))
    assert artifacts, "no bench_results artifact; run `python bench.py`"
    data = json.loads(artifacts[-1].read_text())
    benched = set(data["queries"])
    assert benched == set(QUERIES), (
        f"artifact {artifacts[-1].name} out of date: "
        f"missing={sorted(set(QUERIES) - benched)} "
        f"stale={sorted(benched - set(QUERIES))}"
    )


def test_bench_artifact_needs_round_and_never_overwrites(monkeypatch, capsys):
    """A full bench run writes bench_results_r{n}.json only for an
    explicit SPARK_GRAFT_ROUND, and never over an existing artifact."""
    import bench

    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    assert bench._artifact_path() is None
    assert "set SPARK_GRAFT_ROUND" in capsys.readouterr().err

    monkeypatch.setenv("SPARK_GRAFT_ROUND", "10")
    assert (ROOT / "bench_results_r10.json").exists()
    assert bench._artifact_path() is None
    assert "never overwritten" in capsys.readouterr().err

    monkeypatch.setenv("SPARK_GRAFT_ROUND", "99")
    assert bench._artifact_path() == str(ROOT / "bench_results_r99.json")
