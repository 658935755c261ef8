"""Which engine entry points a traced run wraps, and the span each
opens. Span names are the layer names of ``layers.py``."""

from __future__ import annotations

import os

from tracing import Tracer


def count_files(path: str) -> int:
    """Parquet data files under ``path``."""
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def _file_delta(path_of):
    def measure(*args, **kwargs):
        path = path_of(*args, **kwargs)
        before = count_files(path)
        return lambda: {"files": count_files(path) - before}

    return measure


def instrument(tracer: Tracer) -> None:
    from grafink_spark import gremlin
    from grafink_spark.graph import algorithms
    from grafink_spark.graph.catalog import GraphCatalog
    from grafink_spark.graph.query import GraphQuery
    from grafink_spark.graph.storage import GraphStore
    from grafink_spark.id_manager import IDManager
    from grafink_spark.job import Job
    from grafink_spark.llm import dedup, pca, simsearch, text
    from grafink_spark.rules.samevalue import SameValueClassifier
    from grafink_spark.rules.similarity import SimilarityClassifier
    from grafink_spark.rules.twomode import TwoModeClassifier
    from grafink_spark.sources.reader import Reader

    # ingest
    tracer.wrap(Job, "process", "job.process")
    tracer.wrap(Reader, "read_and_process", "sources.read_and_process")
    tracer.wrap(IDManager, "process", "id_manager.process")
    tracer.wrap(SimilarityClassifier, "classify", "rules.similarity.classify")
    tracer.wrap(SameValueClassifier, "classify", "rules.samevalue.classify")
    tracer.wrap(TwoModeClassifier, "classify", "rules.twomode.classify")
    tracer.wrap(
        GraphStore,
        "write_vertices",
        "graph.storage.write_vertices",
        measure=_file_delta(lambda store, *a, **k: store.vertex_path),
    )
    tracer.wrap(
        GraphStore,
        "write_edges",
        lambda store, edges, rule, *a, **k: f"graph.storage.write_edges.{rule.edge_label}",
        measure=_file_delta(lambda store, edges, rule, *a, **k: os.path.join(store.edge_path, f"label={rule.edge_label}")),
    )
    tracer.wrap(GraphCatalog, "create_vertex_label", "graph.catalog")
    tracer.wrap(GraphCatalog, "create_edge_label", "graph.catalog")

    # reads
    tracer.wrap(GraphStore, "vertices", "graph.storage.open")
    tracer.wrap(GraphStore, "edges", "graph.storage.open")
    for call in ("V", "value_map", "neighbors", "out_e", "degree"):
        tracer.wrap(GraphQuery, call, f"graph.query.{call}")
    tracer.wrap(gremlin, "parse", "gremlin.parse")

    # operator mix: the module functions its queries call
    tracer.wrap(pca, "embedding_pca", "llm.pca")
    tracer.wrap(dedup, "minhash_lsh_candidates", "llm.dedup")
    tracer.wrap(text, "rouge_overlap", "llm.text")
    tracer.wrap(simsearch, "brute_force_topk", "llm.simsearch")
    tracer.wrap(algorithms, "katz_centrality", "graph.algorithms")
