"""Docs can't drift from the registry: the query counts printed in
COVERAGE.md and README.md must equal the live registry sizes."""

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


def test_bench_covers_full_registry():
    """Every registered query gets a recorded timing: HEADLINE (curated
    ordering) + EXTENDED (everything else, sorted) must partition the
    registry exactly."""
    import bench

    assert set(bench.HEADLINE) | set(bench.EXTENDED) == set(QUERIES)
    assert not set(bench.HEADLINE) & set(bench.EXTENDED)
    assert len(bench.HEADLINE) + len(bench.EXTENDED) == len(QUERIES)


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
