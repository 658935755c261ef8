"""End-to-end job orchestration.

Reference lifecycle (core/Job.scala:71-134, SURVEY §3.1):

    read partitions → (schema DDL) → assign ids (append id store) →
    load fixed vertices → write vertices → per configured rule:
    classify → validate → write edges (both directions)

and the delete mode (``--delete``): read the id store for the window,
anti-join vertices/edges, optionally drop the id-store partitions
(``clearOnDelete``).

Everything after the read is :func:`load_batch`, shared with the
streaming microbatch (streaming/graph_ingest.py). ``Job.process`` logs
one JSON record per night with each phase's seconds and rows.
"""

from __future__ import annotations

import json
import logging
import time
from dataclasses import dataclass
from datetime import date
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession

from grafink_spark.config import GrafinkConfig
from grafink_spark.graph.catalog import GraphCatalog
from grafink_spark.graph.storage import GraphStore
from grafink_spark.id_manager import IDManager
from grafink_spark.rules.base import ClassifierRule
from grafink_spark.rules.samevalue import SameValueClassifier
from grafink_spark.rules.similarity import SimilarityClassifier
from grafink_spark.rules.twomode import TwoModeClassifier
from grafink_spark.sources.fixed_vertices import read_fixed_vertices
from grafink_spark.sources.partitions import PartitionManager
from grafink_spark.sources.reader import Reader

log = logging.getLogger(__name__)


@dataclass
class JobResult:
    vertices_loaded: int
    edge_counts: dict[str, int]


def _since(t0: float) -> float:
    return round(time.perf_counter() - t0, 3)


def load_batch(
    batch: DataFrame,
    id_manager: IDManager,
    store: GraphStore,
    catalog: GraphCatalog,
    rules: list[ClassifierRule],
    vertex_label: str,
    tags: dict[str, object] | None = None,
) -> dict:
    """Load one batch into the graph (Job.scala:71-115), shared by the
    daily job and the streaming microbatch: assign ids, write vertices,
    then create every rule's catalog label, classify, and write all
    rules' edges in one write, which validates each rule's columns
    (``tags`` go on every edge row). The id-assigned batch stays
    cached for the rules and is released in the ``finally``, so a long
    run holds at most one night's batch.

    Returns the phase record: seconds for id assignment, the vertex
    write and the edges (classify and write), the ids assigned, and
    per edge label the edge rows written."""
    t0 = time.perf_counter()
    loaded, current = id_manager.process(batch)
    try:
        record: dict = {"ids_s": _since(t0), "ids_assigned": id_manager.assigned}
        t0 = time.perf_counter()
        catalog.create_vertex_label(vertex_label, df=current)
        store.write_vertices(current, label=vertex_label)
        record["vertices_s"] = _since(t0)
        t0 = time.perf_counter()
        edge_sets = []
        for rule in rules:
            catalog.create_edge_label(rule.edge_label, rule.property_key, "String")
            edge_sets.append((rule.classify(loaded, current), rule))
        record["edge_rows"] = store.write_edge_sets(edge_sets, tags=tags)
        record["edges_s"] = _since(t0)
    finally:
        current.unpersist()
    return record


class Job:
    def __init__(self, spark: SparkSession, config: GrafinkConfig):
        self.spark = spark
        self.config = config
        self.id_manager = IDManager(spark, config.idManager)
        self.store = GraphStore(spark, config.graph.storagePath)
        self.catalog = GraphCatalog(config.graph.storagePath)

    @cached_property
    def rules(self) -> list[ClassifierRule]:
        """Rule registry + dispatch (Job.scala:106-113); fixed vertices
        are read only when twoModeClassifier is configured
        (Job.scala:91-101). Built on the first ``process`` call and
        kept: the fixed-vertex CSV and the store's fixed-vertex check
        run once per Job, not once per night."""
        el = self.config.edgeLoader
        rules: list[ClassifierRule] = []
        for name in el.rulesToApply:
            if name == "similarityClassifier":
                rules.append(
                    SimilarityClassifier(el.similarityClassifer.similarityExp)
                )
            elif name == "sameValueClassifier":
                rules.append(SameValueClassifier(el.sameValueClassifier.colsToConnect))
            elif name == "twoModeClassifier":
                fixed = read_fixed_vertices(
                    self.config.fixedVertices.path,
                    self.config.idManager.reservedIdSpace,
                )
                self.store.write_fixed_vertices(fixed)
                rules.append(TwoModeClassifier(el.twoModeClassifier.recipes, fixed))
            else:
                raise ValueError(f"unknown rule {name}")
        return rules

    def process(self, start_date: date, duration: int = 1) -> JobResult:
        """One night: read the window, then :func:`load_batch`. Logs one
        JSON record per night (``load_batch``'s phases plus the read)."""
        t0 = time.perf_counter()
        pm = PartitionManager(start_date, duration, padded=True)
        reader = Reader(self.spark, self.config.reader)
        batch = reader.read_and_process(pm)
        read_s = _since(t0)
        phases = load_batch(
            batch,
            self.id_manager,
            self.store,
            self.catalog,
            self.rules,
            self.config.graph.vertexLabel,
        )
        log.info(
            "%s",
            json.dumps(
                {
                    "event": "ingest",
                    "start_date": start_date.isoformat(),
                    "duration": duration,
                    "read_s": read_s,
                    **phases,
                }
            ),
        )
        return JobResult(
            vertices_loaded=phases["ids_assigned"],
            edge_counts=phases["edge_rows"],
        )

    def delete(self, start_date: date, duration: int = 1) -> int:
        """Delete job (Job.scala:117-134): unpadded partition manager."""
        pm = PartitionManager(start_date, duration, padded=False)
        to_delete = self.id_manager.read_range(pm).select("id")
        n = to_delete.count()
        self.store.delete_vertices(to_delete)
        if self.config.idManager.clearOnDelete:
            pm.delete_partitions(self.config.idManager.dataPath)
        return n
