"""The event-log parser and job-group attribution, on a small log
recorded from a real session (trimmed to the fields the parser reads):
``job.process`` ran a count itself and held two child spans
(``id_manager.process`` with a shuffle, and a parquet write), and one
count ran outside every span."""

import json
import os

import pytest

import layers
from tracing import Span, SpanIndex, Tracer, covered, read_event_log

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    jobs = read_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    with open(os.path.join(DATA, "spans_small.json")) as f:
        spans = [Span(**s) for s in json.load(f)]
    return spans, jobs


def by_name(spans, name):
    (s,) = [s for s in spans if s.name == name]
    return s


def test_parser_reads_jobs_groups_and_task_metrics(recorded):
    spans, jobs = recorded
    assert all(j.end_ms is not None and j.end_ms >= j.start_ms for j in jobs.values())
    assert all(j.tasks > 0 for j in jobs.values())
    groups = {j.group for j in jobs.values()}
    assert None in groups
    assert {s.id for s in spans} <= groups
    write = by_name(spans, "graph.storage.write_edges.similarity")
    assert sum(j.output_bytes for j in jobs.values() if j.group == write.id) > 0


def test_jobs_attributed_to_innermost_span(recorded):
    spans, jobs = recorded
    index = SpanIndex(spans, jobs)
    outer = by_name(spans, "job.process")
    ids = by_name(spans, "id_manager.process")
    assert ids.parent == outer.id
    assert [j.group for j in index.own_jobs[outer.id]] == [outer.id] * len(index.own_jobs[outer.id])
    assert len(index.own_jobs[outer.id]) >= 1
    assert len(index.own_jobs[ids.id]) >= 1
    assert sum(j.shuffle_write_bytes for j in index.own_jobs[ids.id]) > 0
    subtree = index.subtree_jobs(outer)
    outside = [j for j in jobs.values() if j.group is None]
    assert outside
    assert len(subtree) == sum(len(v) for v in index.own_jobs.values()) == len(jobs) - len(outside)
    assert index.self_time(outer) == pytest.approx(outer.duration - sum(c.duration for c in index.children[outer.id]))
    assert 0.0 <= index.driver_time(outer) <= index.self_time(outer)


def test_layer_metrics_from_recorded_log(recorded):
    spans, jobs = recorded
    index = SpanIndex(spans, jobs)
    values = layers.layer_metrics(index, since=0.0, extra={"session.start_s": 1.5})
    assert set(values) == {name for name, _ in layers.LAYER_METRICS}
    assert values["job.process.jobs"] == len(index.own_jobs[by_name(spans, "job.process").id])
    assert values["id_manager.process.jobs"] == len(index.own_jobs[by_name(spans, "id_manager.process").id])
    assert values["graph.storage.write_edges.similarity.files"] == 2
    assert values["graph.storage.write_edges.similarity.tasks"] > 0
    assert values["llm.pca.build_s"] == 0.0
    assert values["session.start_s"] == 1.5
    # spans that started before `since` are set-up and do not count
    late = layers.layer_metrics(index, since=max(s.end for s in spans) + 1, extra={})
    assert late["job.process.jobs"] == 0.0
    with pytest.raises(KeyError):
        layers.layer_metrics(index, since=0.0, extra={"no.such.metric": 1.0})


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert covered([], 0, 1) == 0.0


def test_tracer_nests_spans_and_restores_wrapped_calls():
    class Store:
        def write(self, n):
            return n * 2

    tracer = Tracer()
    tracer.wrap(Store, "write", lambda self, n: f"write.{n}", measure=lambda self, n: lambda: {"files": n})
    with tracer.span("outer"):
        assert Store().write(3) == 6
    inner, outer = tracer.spans
    assert (inner.name, inner.parent, inner.attrs) == ("write.3", outer.id, {"files": 3})
    tracer.active = False
    assert Store().write(1) == 2
    assert len(tracer.spans) == 2
    tracer.restore()
    assert not hasattr(Store.write, "__wrapped__")


def test_overhead_against_latest_untraced_record(tmp_path):
    import run

    records = tmp_path / "records"
    records.mkdir()
    assert run.tracing_overhead(str(tmp_path), "ingest_read", 3, {"batch_s": 11.0}) is None
    old = records / "ingest_read-seed3-trace0-a.json"
    old.write_text(json.dumps({"metrics": {"batch_s": 5.0}}))
    os.utime(old, (1, 1))
    (records / "ingest_read-seed3-trace0-b.json").write_text(json.dumps({"metrics": {"batch_s": 10.0}}))
    (records / "ingest_read-seed4-trace0-c.json").write_text(json.dumps({"metrics": {"batch_s": 1.0}}))
    assert run.tracing_overhead(str(tmp_path), "ingest_read", 3, {"batch_s": 11.0}) == {"batch_s": pytest.approx(10.0)}
