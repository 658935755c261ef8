"""The per-layer metrics of a traced run.

Every name is ``<module>.<call>.<quantity>``. Span metrics are taken
per call: wall time as the median over calls, job and byte counts as
the mean of the jobs each call submitted itself (not those of the
spans nested in it). ``driver_s`` is a call's self time that none of
its own Spark jobs covered. A layer a workload never calls reads 0.
"""

from __future__ import annotations

import statistics

from tracing import Span, SpanIndex, covered

UNITS = {
    "s": "s",
    "ms": "ms",
    "driver_s": "s",
    "cpu_s": "s",
    "jobs": "count",
    "tasks": "count",
    "files": "count",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "output_bytes": "bytes",
}

WRITE_EDGE_QTYS = ["s", "jobs", "tasks", "cpu_s", "shuffle_write_bytes", "spill_bytes", "files"]
EDGE_LABELS = ["similarity", "exactmatch", "satr"]
QUERY_CALLS = ["V", "value_map", "neighbors", "out_e", "degree"]
# calls whose plans a read executes; their waste ratio is rows read per row returned
RATIO_CALLS = ["V", "neighbors", "out_e"]
MIX_MODULES = ["llm.pca", "llm.dedup", "llm.text", "llm.simsearch", "graph.algorithms"]
MIX_QTYS = {"build_s": "s", "exec_s": "s", "build_jobs": "count", "exec_jobs": "count", "shuffle_write_bytes": "bytes"}

SPAN_METRICS: list[tuple[str, list[str]]] = [
    ("job.process", ["driver_s", "jobs"]),
    ("sources.read_and_process", ["s"]),
    ("id_manager.process", ["s", "jobs", "tasks", "cpu_s", "output_bytes"]),
    ("rules.similarity.classify", ["s", "jobs"]),
    ("rules.samevalue.classify", ["s", "jobs"]),
    ("rules.twomode.classify", ["s", "jobs"]),
    ("graph.storage.write_vertices", ["s", "output_bytes", "files"]),
    *[(f"graph.storage.write_edges.{label}", WRITE_EDGE_QTYS) for label in EDGE_LABELS],
    ("graph.catalog", ["s"]),
    ("graph.storage.open", ["ms", "jobs"]),
    *[(f"graph.query.{call}", ["ms", "jobs"]) for call in QUERY_CALLS],
    ("gremlin.parse", ["ms"]),
    ("api.info", ["ms"]),
]

LAYER_METRICS: list[tuple[str, str]] = (
    [(f"{span}.{q}", UNITS[q]) for span, qtys in SPAN_METRICS for q in qtys]
    + [(f"graph.query.{call}.rows_read_per_row_returned", "ratio") for call in RATIO_CALLS]
    + [("graph.storage.bytes_per_alert", "bytes")]
    + [(f"{m}.{q}", unit) for m in MIX_MODULES for q, unit in MIX_QTYS.items()]
    + [
        ("mix.driver_s", "s"),
        ("session.start_s", "s"),
        ("setup.generate_s", "s"),
        ("setup.warmup_s", "s"),
        # the traced run's own end-to-end figures, to set against the untraced run's
        ("trace.batch_s", "s"),
        ("trace.query_p50_ms", "ms"),
    ]
)


def _quantity(index: SpanIndex, spans: list[Span], q: str) -> float:
    if not spans:
        return 0.0
    if q == "s":
        return statistics.median(s.duration for s in spans)
    if q == "ms":
        return 1000.0 * statistics.median(s.duration for s in spans)
    if q == "driver_s":
        return statistics.median(index.driver_time(s) for s in spans)
    if q == "files":
        return statistics.mean(s.attrs.get("files", 0) for s in spans)
    per_call = []
    for s in spans:
        jobs = index.own_jobs[s.id]
        if q == "jobs":
            per_call.append(len(jobs))
        elif q == "tasks":
            per_call.append(sum(j.tasks for j in jobs))
        elif q == "cpu_s":
            per_call.append(sum(j.cpu_ns for j in jobs) / 1e9)
        else:
            per_call.append(sum(getattr(j, q) for j in jobs))
    return statistics.mean(per_call)


def _rows_ratios(index: SpanIndex, since: float) -> dict[str, float]:
    """Rows the scans of a read operation read, per row the operation
    returned, charged to each lazy query call that built its plan."""
    read = dict.fromkeys(RATIO_CALLS, 0)
    returned = dict.fromkeys(RATIO_CALLS, 0)
    for op in index.spans.values():
        if not op.name.startswith("read.") or op.start < since or "rows" not in op.attrs:
            continue
        calls = {d.name for d in index.descendants(op)}
        rows_read = sum(j.records_read for j in index.subtree_jobs(op))
        for call in RATIO_CALLS:
            if f"graph.query.{call}" in calls:
                read[call] += rows_read
                returned[call] += op.attrs["rows"]
    return {
        f"graph.query.{c}.rows_read_per_row_returned": (read[c] / returned[c] if returned[c] else 0.0)
        for c in RATIO_CALLS
    }


def _mix_metrics(index: SpanIndex, since: float) -> dict[str, float]:
    out = {f"{m}.{q}": 0.0 for m in MIX_MODULES for q in MIX_QTYS}
    driver = 0.0
    for query in index.named("mix.query", since):
        driver += max(0.0, query.duration - covered([j.interval for j in index.subtree_jobs(query)], query.start, query.end))
        for part in index.children[query.id]:
            if part.name == "mix.exec":
                m = query.attrs["module"]
                out[f"{m}.exec_s"] += part.duration
                out[f"{m}.exec_jobs"] += len(index.own_jobs[part.id])
                out[f"{m}.shuffle_write_bytes"] += sum(j.shuffle_write_bytes for j in index.own_jobs[part.id])
                continue
            for s in _outermost_module_spans(index, part):
                jobs = index.subtree_jobs(s)
                out[f"{s.name}.build_s"] += s.duration
                out[f"{s.name}.build_jobs"] += len(jobs)
                out[f"{s.name}.shuffle_write_bytes"] += sum(j.shuffle_write_bytes for j in jobs)
    out["mix.driver_s"] = driver
    return out


def _outermost_module_spans(index: SpanIndex, s: Span) -> list[Span]:
    found = []
    for c in index.children[s.id]:
        if c.name in MIX_MODULES:
            found.append(c)
        else:
            found.extend(_outermost_module_spans(index, c))
    return found


def layer_metrics(index: SpanIndex, since: float, extra: dict[str, float]) -> dict[str, float]:
    """Every name in LAYER_METRICS, from spans that started at or after
    ``since`` (the end of set-up) plus the workload's ``extra`` values."""
    values = {name: 0.0 for name, _ in LAYER_METRICS}
    for span, qtys in SPAN_METRICS:
        spans = index.named(span, since)
        for q in qtys:
            values[f"{span}.{q}"] = float(_quantity(index, spans, q))
    values.update(_rows_ratios(index, since))
    values.update(_mix_metrics(index, since))
    unknown = set(extra) - set(values)
    if unknown:
        raise KeyError(f"not per-layer metrics: {sorted(unknown)}")
    values.update(extra)
    return values
