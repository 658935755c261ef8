"""Read-side query surface over the graph tables.

Covers the traversals the reference's users run from the Gremlin shell
(README.md:419-489, docs/TestJGraph7_exploration.md:34-120):

    g.V().count()                      → vertex_count()
    g.V().has("objectId", x)           → V(objectId=x)
    g.V().outE("similarity")
         .has("value", 2)              → out_e("similarity", value=2)
    g.V(id).outE(...)                  → neighbors(id, ...)
    degree per vertex                  → degree()
    valueMap(true)                     → value_map(id)

Each maps to 1–2 filters/joins/aggregations over the vertices/edges
parquet tables; edge tables are label-partitioned so ``outE(label)``
prunes files, and the point lookups push predicates into the scan (the
engine's answer to JanusGraph composite indexes).

That scan is an Arrow one for a bounded vertex lookup: an equality on
``id`` or ``objectId`` (:data:`BOUNDED_KEYS`), with any further literal
equalities. ``GraphStore._lookup`` reads it on the driver with no Spark
job; ``V`` returns it as a local frame (``LocalTableScan``: collecting
it runs no job either), and ``value_map``/``vertex_rows`` convert it to
the Rows Spark's collect would return, with no frame at all. A store
off the local filesystem, or a lookup matching more than
``LOOKUP_ROW_CAP`` rows, keeps the Spark plan. Hop reads (``neighbors``,
``out_e`` from one vertex) stay on Spark: their result has no bound
(``similarity`` joins every high-``rfscore`` alert into one clique, and
``satr`` makes each fixed vertex a hub), so they need their own cap and
their own measurements first.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.conversion import ArrowTableToRowsConversion

from grafink_spark.util import pin

from grafink_spark.graph.storage import GraphStore
from grafink_spark.rules.base import DST, SRC

# an equality on one of these makes a vertex lookup bounded
BOUNDED_KEYS = frozenset({"id", "objectId"})


@dataclass
class GraphQuery:
    store: GraphStore

    # ------------------------------------------------------ vertex side

    def V(self, **has) -> DataFrame:
        """g.V().has(k, v)... — conjunctive property filter. A bounded
        lookup the Arrow reader serves comes back as a local frame."""
        hit = self._point(has)
        if hit is not None:
            return self.store.spark.createDataFrame(*hit)
        return self._scan(has)

    def vertex_rows(self, has: dict, limit: int | None = None) -> list[Row]:
        """``V(**has).collect()``, or ``.take(limit)``; a bounded lookup
        takes its Rows straight from the Arrow table."""
        hit = self._point(has)
        if hit is None:
            df = self._scan(has)
            return df.collect() if limit is None else df.take(limit)
        table, schema = hit
        if limit is not None:
            table = table.slice(0, limit)
        # the Row types Spark's collect returns, bytearray for binary too
        return ArrowTableToRowsConversion.convert(table, schema, binary_as_bytes=False)

    def _point(self, has: dict):
        if BOUNDED_KEYS.isdisjoint(has):
            return None
        return self.store._lookup(self.store.vertex_path, **has)

    def _scan(self, has: dict) -> DataFrame:
        df = self.store.vertices()
        for k, v in has.items():
            df = df.where(F.col(k) == F.lit(v))
        return df

    def vertex_count(self, **has) -> int:
        """``V(**has).count()``; a bounded lookup counts the Arrow
        table's rows, with no Spark job."""
        hit = self._point(has)
        if hit is not None:
            return hit[0].num_rows
        return self._scan(has).count()

    def count_by_label(self) -> DataFrame:
        return self.store.vertices().groupBy("label").agg(
            F.count(F.lit(1)).alias("count")
        )

    def value_map(self, vertex_id: int) -> dict:
        """valueMap(true) — all properties of one vertex. Ids are unique,
        so where Spark serves it a plain filtered collect (one job)
        replaces ``limit(1)``, whose incremental take can run a second
        job."""
        rows = self.vertex_rows({"id": vertex_id})
        return rows[0].asDict() if rows else {}

    # -------------------------------------------------------- edge side

    def out_e(self, label: str | None = None, **has) -> DataFrame:
        """g.V().outE(label).has(propVal, v). Edges are stored with both
        directions materialized, so outE == one scan filtered by label."""
        df = self.store.edges()
        if label is not None:
            df = df.where(F.col("label") == label)  # partition-pruned
        for k, v in has.items():
            df = df.where(F.col(k) == F.lit(str(v)))
        return df

    def neighbors(self, vertex_id: int, label: str | None = None) -> DataFrame:
        """Ids reachable over out-edges from a vertex."""
        return (
            self.out_e(label)
            .where(F.col(SRC) == vertex_id)
            .select(F.col(DST).alias("neighbor_id"))
        )

    def neighborhood(
        self,
        vertex_id: int,
        hops: int = 1,
        label: str | None = None,
        checkpoint_interval: int = 3,
    ) -> DataFrame:
        """Ids reachable within ``hops`` out-edge steps (excluding the
        start vertex): g.V(id).out().out()... Frontier-expansion joins —
        each hop is one equi join against the edge table.

        Shallow traversals (hops <= 3, the interactive case) run the
        joins lazily with a per-hop emptiness early-exit. Deeper
        traversals switch to an iterative mode: NO per-hop blocking
        driver action — frontiers and the seen-set are localCheckpoint-ed
        every ``checkpoint_interval`` hops, which truncates lineage (hop
        N's plan would otherwise contain all N joins, so analysis time
        and per-hop re-execution both grow with depth; checkpointed, the
        plan size is bounded by the interval regardless of hops — pinned
        in tests/test_shell.py). Empty-frontier early exit is checked
        only at checkpoint boundaries. Frontier/seen checkpoints are
        frontier-sized (small); the edge table is re-scanned per hop
        (standard Pregel-style iteration — the scan is label-pruned)."""
        edges = self.out_e(label).select(
            F.col(SRC).alias("_s"), F.col(DST).alias("_d")
        )
        frontier = self.store.spark.createDataFrame(
            [(int(vertex_id),)], "neighbor_id long"
        )
        seen = frontier
        deep = hops > 3
        for h in range(1, hops + 1):
            frontier = (
                frontier.join(
                    edges, frontier.neighbor_id == edges._s, "inner"
                )
                .select(F.col("_d").alias("neighbor_id"))
                .distinct()
                .join(seen, "neighbor_id", "left_anti")
            )
            if deep:
                seen = seen.unionByName(frontier)
                # checkpoint boundary: pin both frontiers, check exit
                if h % checkpoint_interval == 0 and h < hops:
                    frontier = frontier.transform(pin)
                    seen = seen.transform(pin)
                    if frontier.isEmpty():
                        break
            else:
                if not frontier.take(1):
                    break
                seen = seen.unionByName(frontier).distinct()
        return seen.where(F.col("neighbor_id") != vertex_id)

    def degree(self, label: str | None = None) -> DataFrame:
        """Out-degree per vertex (== total degree, both directions are
        materialized). g.V().has(...).outE().count() composes as
        V(...).join(degree(), 'id')."""
        return (
            self.out_e(label)
            .groupBy(F.col(SRC).alias("id"))
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    # ---------------------------------------------------------- SQL view

    def register_views(self, vertices_name: str = "vertices", edges_name: str = "edges") -> None:
        """Expose the graph as temp views — the engine's 'Gremlin shell'
        is plain Spark SQL (SURVEY §3.4)."""
        self.store.vertices().createOrReplaceTempView(vertices_name)
        self.store.edges().createOrReplaceTempView(edges_name)
