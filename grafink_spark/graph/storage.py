"""Parquet-backed property-graph store (replaces JanusGraph/HBase).

Vertices and edges are managed parquet tables:

- ``<root>/vertices/`` — one row per vertex: id, label + property columns
  (reference loads these into JanusGraph per-partition,
  VertexProcessor.scala:203-219; our sink is a table write).
- ``<root>/edges/``    — **both directions materialized**, matching the
  reference's sink which adds src→dst and dst→src physically
  (EdgeProcessor.scala:122-130), partitioned by edge label so
  label-filtered traversals prune files. Classifier output stays one row
  per unordered pair; direction doubling happens only here, so queries
  on the store see Gremlin ``outE`` semantics while rule outputs remain
  deduplicated (SURVEY §7 risk: keep the two layers distinct).

Edge writes repartition by ``src`` with the reference's parallelism
formula (EdgeProcessor.scala:141-149) — co-locates a vertex's out-edges,
which at 100 TB keeps per-vertex neighborhood reads to one partition.
The formula needs the rule's edge count before the write, so
``write_edges`` persists the rule's edge set first: the count
materialises it (the classify joins, one of them over the whole id
store, run once), the doubled, sorted write reads the cached rows, and
the edge set is released after the write, also when the write raises.
``persist`` rather than a lineage-cutting pin: a lost block is
recomputed, nothing goes to the reliable checkpoint directory, and
``unpersist`` frees it at once.

Tables are opened through :func:`open_table`. ``spark.read.parquet``
runs a Spark job on every call just to read a footer for the schema,
which costs more than a point lookup's own scan. ``open_table``
remembers, per table path, the schema it last inferred together with
the exact set of data files it inferred it from. Each open reads with
that schema (``spark.read.schema(...)``: the driver lists the files, no
job runs) and compares the listed files with the remembered set. Equal
sets return that frame; any difference (an append, a delete rewrite, a
swap, a table emptied or recreated by another process) re-infers and
replaces the entry. Spark names every data file it writes uniquely per
write job, so an equal file set means equal files, and the same files
give the same inference: reads return exactly what
``spark.read.parquet`` returns. Writers need no invalidation hook and
there is no knob. The memo is process-wide (the job, the shell and the
API share it), locked for the API's serving thread, and holds at most
:data:`OPEN_MEMO_ENTRIES` tables, least recently opened evicted first.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from grafink_spark.graph.sink import GraphSink
from grafink_spark.rules.base import DST, PROP_VAL, SRC, ClassifierRule


def get_parallelism(edge_count: int, task_size: int, parallelism: int) -> int:
    """#output partitions for an edge batch: n < taskSize → parallelism,
    else max(n // taskSize + 1, parallelism) (EdgeProcessor.scala:141-149).
    Golden values (EdgeProcessorSpec.scala:31-60, taskSize=2500,
    parallelism=10): 3,000 edges → 10 partitions; 300,000 → 121."""
    if edge_count < task_size:
        return parallelism
    return max(edge_count // task_size + 1, parallelism)


OPEN_MEMO_ENTRIES = 64
_open_memo: OrderedDict[str, tuple[frozenset[str], StructType]] = OrderedDict()
_open_lock = threading.Lock()


def open_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    while the table's files are the ones last inferred from (module
    docstring). Raises what ``spark.read.parquet`` raises."""
    with _open_lock:
        hit = _open_memo.get(path)
        if hit is not None:
            _open_memo.move_to_end(path)
    if hit is not None:
        files, schema = hit
        df = spark.read.schema(schema).parquet(path)
        if frozenset(df.inputFiles()) == files:
            return df
    df = spark.read.parquet(path)
    with _open_lock:
        _open_memo[path] = (frozenset(df.inputFiles()), df.schema)
        _open_memo.move_to_end(path)  # newest last; eviction pops the front
        while len(_open_memo) > OPEN_MEMO_ENTRIES:
            _open_memo.popitem(last=False)
    return df


@dataclass
class GraphStore:
    """``sink=None`` writes the managed parquet tables (the engine's
    native store); a :class:`GraphSink` routes the same materialized
    batches to an external store instead (e.g. a per-partition
    JanusGraph/HBase bulk loader — the reference's production path,
    VertexProcessor.scala:203-219). Reads always come from the parquet
    tables; an external sink is write-through for query availability."""

    spark: SparkSession
    root: str
    task_size: int = 25000
    parallelism: int = 100
    sink: GraphSink | None = None

    @property
    def vertex_path(self) -> str:
        return os.path.join(self.root, "vertices")

    @property
    def edge_path(self) -> str:
        return os.path.join(self.root, "edges")

    @property
    def fixed_vertex_path(self) -> str:
        return os.path.join(self.root, "fixed_vertices")

    # ------------------------------------------------------------ write

    def write_vertices(self, df: DataFrame, label: str = "alert") -> None:
        """Append the current batch as vertices. Nested/binary columns are
        excluded by the reader's keepCols upstream; null properties are
        simply null cells (the reference skips null props per row at
        JanusGraph load time, VertexProcessor.scala:92-98 — a columnar
        store represents the same thing natively)."""
        out = df.withColumn("label", F.lit(label))
        if self.sink is not None:
            self.sink.write_vertices(out, label)
            return
        parts = [c for c in ("year", "month", "day") if c in out.columns]
        writer = out.write.mode("append")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(self.vertex_path)

    def write_fixed_vertices(self, fixed: list) -> None:
        """Fixed similarity vertices (ids < reservedIdSpace) as vertex
        rows with their CSV properties flattened to columns
        (VertexProcessor.scala:163-201). Idempotent: skipped when already
        present (reference checks the first fixed id)."""
        if not fixed:
            return
        if self._fixed_already_loaded(fixed[0].id):
            return
        rows = []
        for v in fixed:
            props = {p.name: str(p.value) for p in v.properties}
            rows.append(
                {
                    "id": v.id,
                    "label": v.label,
                    "recipe": props.get("recipe"),
                    "equals": props.get("equals"),
                }
            )
        df = self.spark.createDataFrame(
            rows, "id long, label string, recipe string, equals string"
        )
        df.write.mode("append").parquet(self.fixed_vertex_path)

    def _fixed_already_loaded(self, first_id: int) -> bool:
        p = self.fixed_vertex_path
        if "://" not in p and not os.path.exists(p):
            return False
        try:
            df = self.fixed_vertices()
        except Exception as e:
            from grafink_spark.id_manager import _is_path_empty_error

            if _is_path_empty_error(e):
                return False
            raise
        return df.where(F.col("id") == first_id).limit(1).count() > 0

    def write_edges(
        self,
        edges: DataFrame,
        rule: ClassifierRule,
        tags: dict[str, object] | None = None,
    ) -> int:
        """Materialize both directions, tag label/property key, write
        partitioned by label. ``tags`` adds literal bookkeeping columns
        (e.g. the streaming ingest's batch id) to every written row.
        Returns edge-row count written.

        The edge set is persisted before the sizing count, so the count
        materialises it and the doubled write, built on the same frame,
        reads the cached rows (module docstring)."""
        ClassifierRule.validate(edges)
        edges = edges.select(SRC, DST, PROP_VAL).persist()
        try:
            n = edges.count()  # sizes the repartition (EdgeProcessor.scala:166)
            self._write_both_directions(edges, n, rule, tags)
        finally:
            edges.unpersist()
        return 2 * n

    def _write_both_directions(
        self,
        edges: DataFrame,
        n: int,
        rule: ClassifierRule,
        tags: dict[str, object] | None,
    ) -> None:
        nparts = get_parallelism(n, self.task_size, self.parallelism)
        both = edges.unionByName(
            edges.select(
                F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col(PROP_VAL)
            )
        )
        for name, value in (tags or {}).items():
            both = both.withColumn(name, F.lit(value))
        out = (
            both.withColumn("label", F.lit(rule.edge_label))
            .withColumn("property_key", F.lit(rule.property_key))
            .withColumn(PROP_VAL, F.col(PROP_VAL).cast("string"))
            .repartition(nparts, SRC)
            # sorted files give parquet row-group min/max stats on (src,
            # propVal), the engine's answer to the reference's
            # vertex-centric edge index (SchemaLoader.scala:177-185).
            # Point lookups and property filters skip row groups only in
            # a file larger than one parquet row group; at bench sizes
            # each hash-partitioned file is one row group spanning every
            # src, so nothing is skipped
            .sortWithinPartitions(SRC, PROP_VAL)
        )
        if self.sink is not None:
            self.sink.write_edges(out, rule.edge_label)
            return
        out.write.mode("append").partitionBy("label").parquet(self.edge_path)

    # ------------------------------------------------------------- read

    EDGE_TABLE_SCHEMA = (
        "src long, dst long, propVal string, property_key string, label string"
    )

    def vertices(self) -> DataFrame:
        self._recover_swap(self.vertex_path)
        return open_table(self.spark, self.vertex_path)

    def edges(self) -> DataFrame:
        self._recover_swap(self.edge_path)
        try:
            return open_table(self.spark, self.edge_path)
        except Exception as e:
            from grafink_spark.id_manager import _is_path_empty_error

            if _is_path_empty_error(e):
                # store holds zero edge files (nothing ingested yet, or
                # everything deleted) — empty table, canonical schema
                return self.spark.createDataFrame([], self.EDGE_TABLE_SCHEMA)
            raise  # unreadable ≠ empty: surface corrupt stores

    def fixed_vertices(self) -> DataFrame:
        return open_table(self.spark, self.fixed_vertex_path)

    # ----------------------------------------------------------- delete

    def delete_vertices(self, ids: DataFrame) -> None:
        """Remove vertices (and their edges) by id — the reference's
        delete job (VertexProcessor.scala:124-156, Job.scala:117-134) done
        set-wise: anti-join + full-table rewrite instead of per-row
        ``g.V(id).remove()`` commits."""
        from grafink_spark.util import maybe_broadcast

        # a delete set is usually one date window (small), but it is
        # caller-provided and can be arbitrarily large — size-gate the
        # hint so a bulk purge degrades to a shuffle anti-join instead
        # of materializing the whole set on every executor
        ids = maybe_broadcast(
            ids.select(F.col(ids.columns[0]).alias("_del_id"))
        )
        v = self.vertices().join(
            ids, F.col("id") == F.col("_del_id"), "left_anti"
        )
        tmp_v = self.vertex_path + "__tmp"
        v.write.mode("overwrite").parquet(tmp_v)
        self._swap(tmp_v, self.vertex_path)
        e = self.edges()
        if not e.take(1):
            return
        e = e.join(
            ids, F.col(SRC) == F.col("_del_id"), "left_anti"
        ).join(ids, F.col(DST) == F.col("_del_id"), "left_anti")
        tmp_e = self.edge_path + "__tmp"
        e.write.mode("overwrite").partitionBy("label").parquet(tmp_e)
        self._swap(tmp_e, self.edge_path)

    def _swap(self, tmp: str, target: str) -> None:
        """Replace target dir with tmp via the Hadoop FileSystem API —
        works for local paths AND hdfs://, s3a://, etc. (a shutil-based
        swap would silently only support the local filesystem)."""
        from grafink_spark import fsutil

        fsutil.swap(self.spark, tmp, target)

    def _recover_swap(self, target: str) -> None:
        """Finish a delete-rewrite's swap interrupted between delete
        and rename (fsutil.swap docstring) — otherwise the table reads
        as missing while the completed rewrite sits in ``__tmp``."""
        from grafink_spark import fsutil

        fsutil.complete_interrupted_swap(self.spark, target + "__tmp", target)
