"""End-to-end job orchestration.

Reference lifecycle (core/Job.scala:71-134, SURVEY §3.1):

    read partitions → (schema DDL) → assign ids (append id store) →
    load fixed vertices → write vertices → per configured rule:
    classify → validate → write edges (both directions)

and the delete mode (``--delete``): read the id store for the window,
anti-join vertices/edges, optionally drop the id-store partitions
(``clearOnDelete``).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from datetime import date
from functools import cached_property

from pyspark.sql import SparkSession

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


class Job:
    def __init__(self, spark: SparkSession, config: GrafinkConfig):
        self.spark = spark
        self.config = config
        self.id_manager = IDManager(spark, config.idManager)
        self.store = GraphStore(
            spark,
            config.graph.storagePath,
            task_size=config.edgeLoader.taskSize,
            parallelism=config.edgeLoader.parallelism,
        )
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
        pm = PartitionManager(start_date, duration, padded=True)
        reader = Reader(self.spark, self.config.reader)
        batch = reader.read_and_process(pm)

        loaded, current = self.id_manager.process(batch)

        label = self.config.graph.vertexLabel
        self.catalog.create_vertex_label(label, df=current)
        self.store.write_vertices(current, label=label)

        edge_counts: dict[str, int] = {}
        for rule in self.rules:
            self.catalog.create_edge_label(rule.edge_label, rule.property_key, "String")
            edges = ClassifierRule.validate(rule.classify(loaded, current))
            written = self.store.write_edges(edges, rule)
            edge_counts[rule.edge_label] = written
            log.info("rule %s wrote %d edge rows", rule.name, written)
        return JobResult(
            vertices_loaded=self.id_manager.assigned, edge_counts=edge_counts
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
