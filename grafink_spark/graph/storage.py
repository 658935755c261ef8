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

All rules' edges for a batch go out in one write
(:meth:`GraphStore.write_edge_sets`): each rule's set is tagged with its
label and property key, the sets are unioned, both directions come
from one ``explode`` (each classify plan runs once, so nothing is
persisted), and the ``rebalance`` hint on ``src`` lets AQE size the
output partitions while co-locating a vertex's out-edges. The
reference sized its JanusGraph loader tasks from the edge count
(taskSize/parallelism, EdgeProcessor.scala:141-149); a parquet layout
does not need that count before the write. The rows written per label
come from an ``Observation`` on the written frame, so the write is also
the count.

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

Bounded lookups skip Spark altogether. :meth:`GraphStore._lookup` reads
the rows matching literal equalities with ``pyarrow.dataset``, on the
driver, with the filter pushed into the scan: no Spark job, where even
a filtered collect pays a job's fixed cost. It first finishes an
interrupted swap, as every open does, then lists the table's data files
locally (the names Spark's file index keeps) and compares them with the
memo; a difference calls :func:`open_table` once, which refreshes the
entry. It then reads exactly the memo's files with the memo's Spark
schema (``to_arrow_schema``, the date directories as a hive
partitioning), so Arrow and Spark read one snapshot with one set of
types; a local listing that disagrees with Spark's costs an open, never
a wrong row. It serves only tables on the local filesystem (a path with
no scheme or ``file:``; no pyarrow filesystem is wired in for others)
and at most :data:`LOOKUP_ROW_CAP` rows, so a lookup's driver-side
result stays bounded: it scans batch by batch and gives up at the first
row past the cap. In both cases, and for a literal whose type Arrow
would not compare as Spark does, it returns None and the caller keeps
its Spark plan.
"""

from __future__ import annotations

import operator
import os
import threading
from collections import OrderedDict
from dataclasses import dataclass
from functools import reduce
from urllib.parse import unquote, urlsplit

import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BooleanType, IntegralType, StringType, StructType

from grafink_spark.graph.sink import GraphSink
from grafink_spark.rules.base import DST, PROP_VAL, SRC, ClassifierRule


OPEN_MEMO_ENTRIES = 64
# rows one Arrow lookup may bring to the driver; past it, the Spark plan
LOOKUP_ROW_CAP = 10_000
_open_memo: OrderedDict[str, tuple[frozenset[str], StructType]] = OrderedDict()
_open_lock = threading.Lock()


def _remembered(path: str) -> tuple[frozenset[str], StructType] | None:
    with _open_lock:
        hit = _open_memo.get(path)
        if hit is not None:
            _open_memo.move_to_end(path)
    return hit


def open_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    while the table's files are the ones last inferred from (module
    docstring). Raises what ``spark.read.parquet`` raises."""
    hit = _remembered(path)
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


def _local_root(path: str) -> str | None:
    """The local directory of a table path with no scheme or a ``file``
    one (Hadoop takes the path part as written, undecoded); None for
    any other filesystem."""
    parts = urlsplit(path)
    if parts.scheme not in ("", "file"):
        return None
    return os.path.abspath(parts.path if parts.scheme else path)


def _hidden(name: str) -> bool:
    """Names Spark's file index skips (InMemoryFileIndex's
    ``shouldFilterOutPathName``)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _data_files(root: str) -> frozenset[str]:
    found = []
    for parent, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        found += [os.path.join(parent, f) for f in files if not _hidden(f)]
    return frozenset(found)


def _local_paths(uris: frozenset[str]) -> list[str]:
    """Spark's percent-encoded ``file:`` URIs as local paths, sorted."""
    return sorted(unquote(urlsplit(u).path) for u in uris)


# literal types the Arrow filter compares exactly as Spark's ``col == lit``
_LOOKUP_LITERALS = ((BooleanType, bool), (IntegralType, int), (StringType, str))


def _arrow_comparable(schema: StructType, eq: dict) -> bool:
    types = {f.name: f.dataType for f in schema.fields}
    for k, v in eq.items():
        if not any(
            isinstance(types.get(k), st) and type(v) is pt
            for st, pt in _LOOKUP_LITERALS
        ):
            return False
        if type(v) is int and not -(2**63) <= v < 2**63:
            return False
    return True


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
        """One rule's edges through :meth:`write_edge_sets`; returns the
        edge rows written (both directions)."""
        return self.write_edge_sets([(edges, rule)], tags)[rule.edge_label]

    def write_edge_sets(
        self,
        sets: list[tuple[DataFrame, ClassifierRule]],
        tags: dict[str, object] | None = None,
    ) -> dict[str, int]:
        """Write a batch's edges for every rule in one write: both
        directions, tagged with label/property key, partitioned by
        label. ``tags`` adds literal bookkeeping columns (e.g. the
        streaming ingest's batch id) to every written row. Returns the
        edge rows written per label, 0 for a rule that found none."""
        labels = list(dict.fromkeys(rule.edge_label for _, rule in sets))
        if not labels:
            return {}
        both = self._both_directions(sets, tags)
        if self.sink is not None:
            return self._write_to_sink(both, labels)
        written = Observation()
        (
            both.hint("rebalance", SRC)
            # sorted files give parquet row-group min/max stats on (src,
            # propVal), the engine's answer to the reference's
            # vertex-centric edge index (SchemaLoader.scala:177-185).
            # Point lookups and property filters skip row groups only in
            # a file larger than one parquet row group. ``label`` leads
            # so the partitioned write needs no sort of its own
            .sortWithinPartitions("label", SRC, PROP_VAL)
            .observe(
                written,
                *(F.count(F.when(F.col("label") == x, 1)).alias(x) for x in labels),
            )
            .write.mode("append")
            .partitionBy("label")
            .parquet(self.edge_path)
        )
        # the write succeeded. AQE can replace a plan whose shuffle came
        # out empty and drop its metrics; ``Observation.get`` then fails
        # on the empty map, so read the map itself and take {} as no rows
        rows = dict(written._jo.getAsJava())
        return {x: int(rows[x]) if rows else 0 for x in labels}

    @staticmethod
    def _both_directions(
        sets: list[tuple[DataFrame, ClassifierRule]],
        tags: dict[str, object] | None,
    ) -> DataFrame:
        tagged = [
            ClassifierRule.validate(edges).select(
                SRC,
                DST,
                F.col(PROP_VAL).cast("string").alias(PROP_VAL),
                F.lit(rule.edge_label).alias("label"),
                F.lit(rule.property_key).alias("property_key"),
            )
            for edges, rule in sets
        ]
        edges = reduce(DataFrame.unionByName, tagged)
        pair = F.explode(
            F.array(
                F.struct(F.col(SRC).alias(SRC), F.col(DST).alias(DST)),
                F.struct(F.col(DST).alias(SRC), F.col(SRC).alias(DST)),
            )
        ).alias("_pair")
        return edges.select(pair, PROP_VAL, "label", "property_key").select(
            f"_pair.{SRC}",
            f"_pair.{DST}",
            PROP_VAL,
            *(F.lit(value).alias(name) for name, value in (tags or {}).items()),
            "label",
            "property_key",
        )

    def _write_to_sink(self, both: DataFrame, labels: list[str]) -> dict[str, int]:
        """Hand each label's edges to the sink. An ``Observation`` on a
        frame consumed by ``foreachPartition`` never reports (its ``get``
        blocks), so this path persists the edge set and counts it: the
        classify plans still run once, and the sink reads cached rows."""
        both = both.persist()
        try:
            rows = dict.fromkeys(labels, 0)
            rows.update(both.groupBy("label").count().collect())
            for label in labels:
                if rows[label]:
                    self.sink.write_edges(
                        both.where(F.col("label") == label)
                        .hint("rebalance", SRC)
                        .sortWithinPartitions(SRC, PROP_VAL),
                        label,
                    )
        finally:
            both.unpersist()
        return rows

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

    def _lookup(self, path: str, **eq) -> tuple[pa.Table, StructType] | None:
        """The rows of the table at ``path`` where every ``column ==
        value`` of ``eq`` holds, read on the driver by ``pyarrow.dataset``
        from ``open_table``'s snapshot, with that snapshot's Spark
        schema (module docstring). None where the caller keeps its
        Spark plan: a store off the local filesystem, a value whose type
        Arrow would not compare as Spark does, or more than
        :data:`LOOKUP_ROW_CAP` matching rows. ``eq`` is not empty."""
        root = _local_root(path)
        if root is None:
            return None
        self._recover_swap(path)
        hit = _remembered(path)
        if hit is None or frozenset(_local_paths(hit[0])) != _data_files(root):
            open_table(self.spark, path)  # refreshes the entry
            hit = _remembered(path)
        if hit is None:  # evicted by other tables' opens in between
            return None
        files, schema = hit
        if not _arrow_comparable(schema, eq):
            return None
        local = _local_paths(files)
        arrow = to_arrow_schema(schema)
        keys = [
            seg.split("=", 1)[0]
            for seg in os.path.relpath(os.path.dirname(local[0]), root).split(os.sep)
            if "=" in seg
        ]
        data = pads.dataset(
            local,
            schema=arrow,
            format="parquet",
            partitioning=pads.partitioning(
                pa.schema([arrow.field(k) for k in keys]), flavor="hive"
            )
            if keys
            else None,
            partition_base_dir=root,
        )
        match = reduce(operator.and_, (pads.field(k) == v for k, v in eq.items()))
        batches, rows = [], 0
        for batch in data.to_batches(filter=match):
            rows += batch.num_rows
            if rows > LOOKUP_ROW_CAP:
                return None
            batches.append(batch)
        # PySpark 4.1.2's createDataFrame(table) returns no rows when the
        # table's leading batches are empty; one chunk has none
        return pa.Table.from_batches(batches, arrow).combine_chunks(), schema

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
