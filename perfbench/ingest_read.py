"""The ingest_read workload: nights of alerts through ``Job.process``
into a store that grows each night, each night followed by a closed
loop of graph reads on the store as that night left it.

Set-up ingests the first night, which pays the process's one-time
start-up and gives the store its history. The next nights are timed
one by one, so each night's rules join its alerts against the earlier
nights as well as against each other; the reported time is the mean
night. After each timed night a burst of reads runs for a third of
``--seconds``: one client, one read at a time, the next sent when the
previous one returns. One read of each kind, after the first timed
night, warms the read paths (set-up).

Why bursts between nights rather than one block at the end: on a
shared host, load from neighbours comes and goes over tens of seconds.
A figure taken from one short stretch of the run is then fast or slow
as a whole; samples spread over the whole timed region, as the nights'
mean and the bursts' medians are, average it out. The timed nights are
also still warming up (each runs faster than the one before), so their
mean varies less from run to run than any one night or their median.

Reads come in a fixed cycle: the three point kinds (``has`` on
objectId through Gremlin, ``valueMap`` by id, ``V(objectId=)``), an
``/info`` call (a few milliseconds, so every cycle has one), then one
hop or scan read in turn; the cycle carries on from burst to burst.
Every stretch of reads then holds each point kind in equal number, so
each kind's median is taken over the same spread of store sizes and
warmth in every run; a seeded order would put a kind's reads in
different bursts from run to run. The shares are an assumption, not
taken from a traffic log, so the reported latency does not depend on
them: it is the mean over the three point-read kinds of each kind's
median. (A median pooled over the kinds would fall between the fast
objectId lookups and the slower ``valueMap`` reads, and move with
their shares.) Keys are drawn Zipf over the vertex ids and objectIds in the store at
the time, so popular keys repeat. Each burst's reads are checked
against the store's files as they stood when the burst ran.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import statistics
import sys
import threading
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np

import alerts
from oracles import StoreOracle, norm_row, store_files
from stats import median, summary

NIGHT_ALERTS = 1000
SETUP_NIGHTS = 1
TIMED_NIGHTS = 3
NIGHTS = SETUP_NIGHTS + TIMED_NIGHTS
ZIPF_S = 1.1
N_FIXED = 8

KIND_CLASS = {
    "has_next": "point",
    "value_map": "point",
    "V_has": "point",
    "out": "hop",
    "neighbors": "hop",
    "oute_count": "scan",
    "degree_top": "scan",
    "info": "info",
}
POINT_KINDS = ["has_next", "value_map", "V_has"]
OTHER_KINDS = ["out", "neighbors", "oute_count", "degree_top"]
KEY_OF = {"has_next": "object", "V_has": "object", "value_map": "vertex", "out": "vertex", "neighbors": "vertex"}


class ZipfKeys:
    """Keys drawn with probability proportional to 1 / rank**s over a
    seeded ranking."""

    def __init__(self, rng: np.random.Generator, keys: list, s: float = ZIPF_S):
        self.rng = rng
        self.keys = [keys[i] for i in rng.permutation(len(keys))]
        w = 1.0 / np.arange(1, len(keys) + 1) ** s
        self.cdf = np.cumsum(w / w.sum())

    def pick(self):
        i = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
        return self.keys[min(i, len(self.keys) - 1)]


@dataclass
class ReadSample:
    kind: str
    key: object
    ms: float
    ok: bool = True


@dataclass
class Reads:
    """Issues reads against the store and remembers the first result of
    each distinct read for the correctness gate."""

    g: object
    port: int
    results: dict = field(default_factory=dict)

    def execute(self, kind: str, key):
        from pyspark.sql import functions as F

        from grafink_spark.gremlin import gremlin

        if kind == "has_next":
            row = gremlin(self.g, f'g.V().has("objectId", "{key}").next()')
            return (row.asDict() if row is not None else None), int(row is not None)
        if kind == "value_map":
            d = gremlin(self.g, f"g.V({key}).valueMap(true)")
            return d, int(bool(d))
        if kind == "V_has":
            rows = sorted((r.asDict() for r in self.g.V(objectId=key).collect()), key=lambda d: d["id"])
            return rows, len(rows)
        if kind == "out":
            ids = sorted(r.neighbor_id for r in gremlin(self.g, f'g.V({key}).out("similarity")').collect())
            return ids, len(ids)
        if kind == "neighbors":
            ids = sorted(r.neighbor_id for r in self.g.neighbors(key, "exactmatch").collect())
            return ids, len(ids)
        if kind == "oute_count":
            return gremlin(self.g, 'g.V().outE("similarity").has("value", 2).count()'), 1
        if kind == "degree_top":
            top = self.g.degree().orderBy(F.desc("degree"), F.asc("id")).limit(10).collect()
            return [(r.id, r.degree) for r in top], len(top)
        if kind == "info":
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
            try:
                conn.request("POST", "/info", body=json.dumps({"tableName": "graph"}))
                return json.loads(conn.getresponse().read()), 1
            finally:
                conn.close()
        raise ValueError(kind)

    def run(self, tracer, kind: str, key) -> ReadSample:
        t = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("api.info" if kind == "info" else f"read.{kind}") as s:
                    result, rows = self.execute(kind, key)
                    s.attrs["rows"] = rows
            else:
                result, rows = self.execute(kind, key)
        except Exception as e:  # noqa: BLE001 — a failed read is counted, not fatal
            print(f"# read {kind}({key}) failed: {type(e).__name__}: {e}", file=sys.stderr)
            return ReadSample(kind, key, 1000 * (time.perf_counter() - t), ok=False)
        self.results.setdefault((kind, key), result)
        return ReadSample(kind, key, 1000 * (time.perf_counter() - t))


def check_read(oracle: StoreOracle, kind: str, key, result) -> bool:
    if kind == "has_next":
        if result is None:
            return oracle.object_vertices(key) == []
        expect = oracle.vertex(result["id"])
        return result["objectId"] == key and expect is not None and norm_row(expect) == norm_row(result)
    if kind == "value_map":
        expect = oracle.vertex(key)
        return result == {} if expect is None else norm_row(expect) == norm_row(result)
    if kind == "V_has":
        return [norm_row(r) for r in oracle.object_vertices(key)] == [norm_row(r) for r in result]
    if kind == "out":
        return result == oracle.out(key, "similarity")
    if kind == "neighbors":
        return result == oracle.out(key, "exactmatch")
    if kind == "oute_count":
        return result == oracle.out_e_count("similarity", "2")
    if kind == "degree_top":
        return result == oracle.degree_top(10)
    if kind == "info":
        props = {p["name"] for p in result.get("propertyKeys", [])}
        return (
            result.get("error") == ""
            and result.get("vertexLabels") == ["alert"]
            and sorted(e["name"] for e in result.get("edgeLabels", [])) == ["exactmatch", "satr", "similarity"]
            and props >= oracle.vertex_columns() - {"label"}
        )
    raise ValueError(kind)


def store_bytes(work: str) -> int:
    total = 0
    for sub in ("ids", "graph"):
        for root, _, files in os.walk(os.path.join(work, sub)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run(ctx) -> dict:
    from grafink_spark.api import make_server
    from grafink_spark.config import GrafinkConfig
    from grafink_spark.graph.query import GraphQuery
    from grafink_spark.graph.storage import GraphStore
    from grafink_spark.job import Job

    rng = np.random.default_rng(ctx.seed)
    t = time.perf_counter()
    nights = alerts.generate(ctx.seed, alerts.AlertSpec(NIGHT_ALERTS, NIGHTS))
    for i, night in enumerate(nights):
        alerts.write_night(f"{ctx.work}/alerts", i, night)
    generate_s = time.perf_counter() - t
    n_alerts = NIGHTS * NIGHT_ALERTS

    config = GrafinkConfig.from_dict(alerts.ingest_config(ctx.work, ctx.nproc))
    job = Job(ctx.spark, config)
    g = GraphQuery(GraphStore(ctx.spark, config.graph.storagePath))
    tracer = ctx.tracer

    # ---- set-up: the earlier nights, which also warm the ingest path
    if tracer is not None:
        tracer.active = False
    t = time.perf_counter()
    history = [job.process(alerts.night_date(i)) for i in range(SETUP_NIGHTS)]
    history_s = time.perf_counter() - t
    if tracer is not None:
        tracer.active = True

    server = make_server(root=ctx.work)
    server_thread = threading.Thread(target=server.serve_forever, daemon=True)
    server_thread.start()
    reads = Reads(g, server.server_address[1])
    kinds = _kinds()
    burst_s = ctx.seconds / TIMED_NIGHTS
    results: dict[int, object] = {}
    night_s: list[float] = []
    # per burst: the store's files when it ran, its distinct reads' first results, its samples
    bursts: list[tuple[dict, dict, list[ReadSample]]] = []
    warmup_s = read_wall = 0.0
    try:
        timed_since = time.time()
        for i in range(SETUP_NIGHTS, NIGHTS):
            # ---- timed: one night's ingest
            t = time.perf_counter()
            try:
                results[i] = job.process(alerts.night_date(i))
            except Exception as e:  # noqa: BLE001 — a failed night is counted, not fatal
                print(f"# ingest of night {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
            night_s.append(time.perf_counter() - t)

            files = store_files(ctx.work)
            vertex_keys = ZipfKeys(rng, list(range(alerts.RESERVED_ID_SPACE + 1, alerts.RESERVED_ID_SPACE + 1 + (i + 1) * NIGHT_ALERTS)))
            object_keys = ZipfKeys(rng, sorted({o for night in nights[: i + 1] for o in night.column("objectId").to_pylist()}))
            if i == SETUP_NIGHTS:
                # ---- set-up: one read of each kind
                if tracer is not None:
                    tracer.active = False
                t = time.perf_counter()
                for kind in KIND_CLASS:
                    reads.run(None, kind, _key(kind, vertex_keys, object_keys))
                warmup_s = time.perf_counter() - t
                if tracer is not None:
                    tracer.active = True

            # ---- timed: a burst of reads on the store as this night left it
            reads.results = {}
            samples: list[ReadSample] = []
            t0 = time.perf_counter()
            while not samples or time.perf_counter() - t0 < burst_s:
                kind = next(kinds)
                samples.append(reads.run(tracer, kind, _key(kind, vertex_keys, object_keys)))
            read_wall += time.perf_counter() - t0
            bursts.append((files, reads.results, samples))
        peak_rss_mb = ctx.peak_rss_mb()
    finally:
        server.shutdown()
        server.server_close()
        server_thread.join(timeout=30)

    problems: list[str] = []
    failed_reads = 0
    for n, (files, first, samples) in enumerate(bursts):
        oracle = StoreOracle(ctx.work, files)
        try:
            bad = set()
            for (kind, key), res in first.items():
                if not check_read(oracle, kind, key, res):
                    bad.add((kind, key))
                    problems.append(f"read {kind}({key}) after night {SETUP_NIGHTS + n} disagrees with the store")
        finally:
            oracle.close()
        failed_reads += sum(1 for s in samples if not s.ok or (s.kind, s.key) in bad)

    oracle = StoreOracle(ctx.work)
    try:
        expected = oracle.expected_edge_rows(NIGHTS - 1)
        for i, done in enumerate(history):
            if done.edge_counts != expected[i] or done.vertices_loaded != NIGHT_ALERTS:
                problems.append(f"set-up night {i} wrote {done.edge_counts} ({done.vertices_loaded} vertices), expected {expected[i]}")
        failed_nights = TIMED_NIGHTS - len(results)
        for i, done in results.items():
            if done.edge_counts != expected[i] or done.vertices_loaded != NIGHT_ALERTS:
                problems.append(f"night {i} wrote {done.edge_counts} ({done.vertices_loaded} vertices), expected {expected[i]}")
                failed_nights += 1
        if not failed_nights:
            done = [*history, *results.values()]
            written = {label: sum(r.edge_counts.get(label, 0) for r in done) for label in done[-1].edge_counts}
            store = oracle.store_problems(n_alerts, written, N_FIXED)
            problems += store
            failed_nights += int(bool(store))
    finally:
        oracle.close()

    samples = [s for _, _, burst in bursts for s in burst]
    by_class: dict[str, list[float]] = {}
    by_kind: dict[str, list[float]] = {}
    for s in samples:
        by_class.setdefault(KIND_CLASS[s.kind], []).append(s.ms)
        by_kind.setdefault(s.kind, []).append(s.ms)
    nbytes = store_bytes(ctx.work)
    return {
        "setup_s": generate_s + history_s + warmup_s,
        "timed_since": timed_since,
        "attempted": TIMED_NIGHTS + len(samples),
        "failed": failed_nights + failed_reads,
        "problems": problems,
        "peak_rss_mb": peak_rss_mb,
        "metrics": {
            "batch_s": statistics.mean(night_s),
            "query_p50_ms": statistics.mean(median(by_kind[k]) for k in POINT_KINDS),
        },
        "layer_extra": {
            "graph.storage.bytes_per_alert": nbytes / n_alerts,
            "setup.generate_s": generate_s,
            "setup.warmup_s": history_s + warmup_s,
        },
        "record": {
            "alerts_per_night": NIGHT_ALERTS,
            "nights": NIGHTS,
            "setup_nights_s": history_s,
            "night_s": night_s,
            "ingest_alerts_per_s": NIGHT_ALERTS / statistics.mean(night_s),
            "reads_per_s": len(samples) / read_wall,
            "store_bytes_per_alert": nbytes / n_alerts,
            "read_classes": {c: summary(v) for c, v in by_class.items()},
            "read_kinds": {k: summary(v) for k, v in by_kind.items()},
            "reads": [
                {"burst": n, "kind": s.kind, "key": s.key, "ms": s.ms, "ok": s.ok}
                for n, (_, _, burst) in enumerate(bursts)
                for s in burst
            ],
            "distinct_reads_checked": sum(len(first) for _, first, _ in bursts),
        },
    }


def _kinds() -> Iterator[str]:
    """Read kinds in a fixed cycle: the three point kinds, ``/info``,
    then one hop or scan read in turn."""
    for n in itertools.count():
        yield from POINT_KINDS
        yield "info"
        yield OTHER_KINDS[n % len(OTHER_KINDS)]


def _key(kind, vertex_keys: ZipfKeys, object_keys: ZipfKeys):
    src = KEY_OF.get(str(kind))
    if src == "vertex":
        return int(vertex_keys.pick())
    if src == "object":
        return str(object_keys.pick())
    return None

