"""The operator_mix workload: one pass over a fixed set of the engine's
analytics queries, each built and then collected.

One query per module the mix exists to measure: brute-force top-k
(``llm.simsearch``), the PCA power iteration (``llm.pca``), ROUGE over
LSH candidates (``llm.text``, with ``llm.dedup`` building the
candidates) and Katz centrality on the similarity graph
(``graph.algorithms``, whose preamble runs ``rules.similarity``). Most
of their time is driver-side construction: many small Spark jobs
before the final plan starts.

The pass is the first work of its process, as a batch job meets it.
Its rows are checked against each query's DuckDB oracle after the
timed region.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

import duckdb

import mixdata
from stats import median

# run in this order: the first query of a process also pays its
# one-time start-up (JIT, first parquet read, first shuffle), so the
# order stays fixed and the seed varies only the data
QUERY_MODULE = {
    "embedding_topk": "llm.simsearch",
    "embedding_pca": "llm.pca",
    "rouge_pairs": "llm.text",
    "katz_centrality": "graph.algorithms",
}
SPEC = mixdata.MixSpec()


def _oracle_normalize():
    """``tests/oracle_check.py``'s row normalisation, loaded by path."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def run(ctx) -> dict:
    from grafink_spark.benchqueries import ORACLES, QUERIES

    t = time.perf_counter()
    data = mixdata.write(os.path.join(ctx.work, "mix"), mixdata.generate(ctx.seed, SPEC))
    generate_s = time.perf_counter() - t
    order = list(QUERY_MODULE)

    # ---- timed: one pass, each query built and then collected
    timed_since = time.time()
    collected, query_s, failed = {}, {}, []
    for q in order:
        t = time.perf_counter()
        try:
            collected[q] = _run_query(QUERIES[q], ctx.spark, data, ctx.tracer, q)
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            print(f"# {q} failed: {type(e).__name__}: {e}", file=sys.stderr)
            failed.append(q)
        query_s[q] = time.perf_counter() - t
    peak_rss_mb = ctx.peak_rss_mb()

    # ---- gate: every query's rows against its oracle
    normalize = _oracle_normalize()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for table in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
    problems = [f"{q}: raised" for q in failed]
    for q, (cols, rows) in collected.items():
        res = con.execute(ORACLES[q])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols) or normalize(rows, cols) != normalize(orows, ocols):
            problems.append(f"{q}: {len(rows)} rows disagree with its oracle ({len(orows)} rows)")
    con.close()

    times = list(query_s.values())
    return {
        "setup_s": generate_s,
        "timed_since": timed_since,
        "attempted": len(order),
        "failed": len(problems),
        "problems": problems,
        "peak_rss_mb": peak_rss_mb,
        "metrics": {
            "batch_s": sum(times),
            "query_p50_ms": 1000.0 * median(times),
        },
        "layer_extra": {"setup.generate_s": generate_s},
        "record": {
            "tables": {"documents": SPEC.documents, "embeddings": SPEC.embeddings, "events": SPEC.events},
            "order": order,
            "query_s": query_s,
            "mix_s": sum(times),
        },
    }


def _run_query(fn, spark, data: str, tracer, name: str) -> tuple[list[str], list[tuple]]:
    """Build the query's DataFrame, then collect it."""
    if tracer is None:
        df = fn(spark, data)
        return df.columns, [tuple(r) for r in df.collect()]
    with tracer.span("mix.query", query=name, module=QUERY_MODULE[name]):
        with tracer.span("mix.build"):
            df = fn(spark, data)
        with tracer.span("mix.exec"):
            return df.columns, [tuple(r) for r in df.collect()]
