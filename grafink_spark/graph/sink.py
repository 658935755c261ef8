"""Pluggable graph-sink connectors.

The reference's production sink loads vertices/edges into JanusGraph
per-partition: each Spark partition opens a storage connection, iterates
its rows, and commits (core/.../processor/vertex/VertexProcessor.scala:203-219,
processor/EdgeProcessor.scala:151-187). This engine's default sink is
the parquet table write in :class:`GraphStore`, but the per-partition
connector shape is kept as a first-class extension point so a user can
bulk-load any external store (JanusGraph, HBase, a KV service) without
touching the load pipeline:

- :class:`GraphSink` — the interface ``GraphStore`` routes writes
  through when configured.
- :class:`ForeachPartitionSink` — adapter that hands each partition's
  rows to ``vertex_partition`` / ``edge_partition`` on the executors
  (``df.foreachPartition`` — the plan stays distributed; nothing is
  collected to the driver). Subclasses must be picklable: they are
  serialized to executors, so open connections lazily *inside* the
  partition callback, never in ``__init__``.

A connector receives each edge label's rows rebalanced on ``src`` by
AQE and sorted on (src, propVal), the partitions the parquet sink
writes. ``GraphStore`` counts a sink's edges from a persisted edge set
rather than an ``Observation``: observed metrics are never reported
for a ``foreachPartition`` action.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Iterator

from pyspark.sql import DataFrame, Row


class GraphSink(ABC):
    """Destination for materialized graph batches.

    ``write_vertices`` receives one row per vertex (id, label +
    property columns); ``write_edges`` receives edge rows with both
    directions already materialized (src, dst, propVal, label,
    property_key + any bookkeeping tags), one label per call,
    rebalanced on src."""

    @abstractmethod
    def write_vertices(self, df: DataFrame, label: str) -> None: ...

    @abstractmethod
    def write_edges(self, df: DataFrame, label: str) -> None: ...


class ForeachPartitionSink(GraphSink):
    """Per-partition bulk-load adapter (the reference's JanusGraph
    pattern): override ``vertex_partition`` / ``edge_partition`` with
    "open connection → iterate rows → commit" logic; each runs once per
    Spark partition on an executor."""

    def write_vertices(self, df: DataFrame, label: str) -> None:
        df.foreachPartition(self.vertex_partition)

    def write_edges(self, df: DataFrame, label: str) -> None:
        df.foreachPartition(self.edge_partition)

    @abstractmethod
    def vertex_partition(self, rows: Iterator[Row]) -> None: ...

    @abstractmethod
    def edge_partition(self, rows: Iterator[Row]) -> None: ...
