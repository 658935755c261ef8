"""Graph store, catalog, query layer, fixed-vertex CSV, delete path."""

import pytest
from pyspark.sql import functions as F

from grafink_spark.graph.catalog import GraphCatalog, property_class_for
from grafink_spark.graph.query import GraphQuery
from grafink_spark.graph.sink import ForeachPartitionSink, GraphSink
from grafink_spark.graph.storage import GraphStore
from grafink_spark.rules.samevalue import SameValueClassifier
from grafink_spark.rules.similarity import SimilarityClassifier
from grafink_spark.rules.twomode import TwoModeClassifier
from grafink_spark.sources.fixed_vertices import read_fixed_vertices
from tests.conftest import alert, edge_set, jobs_submitted, persisted_rdds


@pytest.fixture()
def store(spark, tmp_path):
    return GraphStore(spark, str(tmp_path / "graph"))


def _load_graph(store, alerts_df):
    current = alerts_df(
        [
            alert(1, "obj1", 0.92, 0.95, 1, 0.0, "WD*", None, None),
            alert(2, "obj2", 0.35, 0.8999, 1, 0.0, "WD*", "ML", "ML"),
            alert(3, "obj1", 0.35, 0.8999, 2, 0.0, "WD*", "ML", "ML"),
        ]
    )
    loaded = alerts_df([])
    store.write_vertices(current, label="alert")
    rule = SameValueClassifier(["objectId"])
    edges = rule.classify(loaded, current)
    n = store.write_edges(edges, rule)
    return current, n


def test_write_and_query_graph(spark, store, alerts_df):
    _, n = _load_graph(store, alerts_df)
    # one pair (1,3) → both directions
    assert n == 2
    q = GraphQuery(store)
    assert q.vertex_count() == 3
    assert {r.src for r in q.out_e("exactmatch").collect()} == {1, 3}
    assert [r.neighbor_id for r in q.neighbors(1, "exactmatch").collect()] == [3]
    deg = {r.id: r.degree for r in q.degree().collect()}
    assert deg == {1: 1, 3: 1}
    vm = q.value_map(2)
    assert vm["objectId"] == "obj2" and vm["label"] == "alert"
    # point lookup
    assert q.V(objectId="obj1").count() == 2


def test_delete_vertices(spark, store, alerts_df):
    _load_graph(store, alerts_df)
    store.delete_vertices(spark.createDataFrame([(3,)], "id long"))
    q = GraphQuery(store)
    assert q.vertex_count() == 2
    assert store.edges().count() == 0  # both directions touched id 3


def test_count_by_label_counts_each_vertex_label(spark, store, alerts_df):
    """The shell's ``g.count_by_label()``: one row per vertex label."""
    _load_graph(store, alerts_df)
    store.write_vertices(
        alerts_df([alert(4, "obj4", 0.35, 0.8999, 2, 0.0, "WD*", None, None)]),
        label="similarity",
    )
    got = {r.label: r["count"] for r in GraphQuery(store).count_by_label().collect()}
    assert got == {"alert": 3, "similarity": 1}


def _read_captured(capture_dir, kind):
    import json
    import os

    out = []
    for name in os.listdir(capture_dir):
        if name.startswith(kind + "-"):
            with open(os.path.join(capture_dir, name)) as f:
                out.extend(json.loads(line) for line in f)
    return out


def test_pluggable_sink_receives_partitions(spark, tmp_path, alerts_df):
    """A configured GraphSink gets the same materialized batches the
    parquet writer would (both edge directions, label/property_key), via
    per-partition iterators on the executors; the parquet tables are NOT
    written (SURVEY S6's foreachPartition extension point)."""
    capture = tmp_path / "captured"
    capture.mkdir()
    capture_dir = str(capture)

    # partition callbacks run in executor worker processes, so a driver-
    # side list can't capture — each dumps its rows to a unique JSONL
    # file in a shared dir. Defined in the test body: cloudpickle ships
    # a local function and class by value (a test-module class isn't
    # importable on the workers).
    def _dump(kind, rows):
        import json
        import os
        import uuid

        rows = [r.asDict() for r in rows]
        if not rows:
            return
        path = os.path.join(capture_dir, f"{kind}-{uuid.uuid4().hex}.jsonl")
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    class DumpSink(ForeachPartitionSink):
        def vertex_partition(self, rows):
            _dump("v", rows)

        def edge_partition(self, rows):
            _dump("e", rows)

    sink = DumpSink()
    store = GraphStore(spark, str(tmp_path / "graph"), sink=sink)
    _load_graph(store, alerts_df)

    verts = _read_captured(str(capture), "v")
    assert len(verts) == 3
    assert {v["label"] for v in verts} == {"alert"}
    assert {v["objectId"] for v in verts} == {"obj1", "obj2"}

    edges = _read_captured(str(capture), "e")
    # one (1,3) pair → both directions materialized before the sink sees it
    assert {(e["src"], e["dst"]) for e in edges} == {(1, 3), (3, 1)}
    assert all(e["label"] == "exactmatch" for e in edges)
    assert all(e["property_key"] == "propertyname" for e in edges)

    # external sink short-circuits the parquet tables
    import os

    assert not os.path.exists(store.vertex_path)
    assert not os.path.exists(store.edge_path)


def test_catalog_idempotent_and_info(spark, tmp_path, alerts_df):
    cat = GraphCatalog(str(tmp_path / "g"))
    df = alerts_df([alert(1, "o", 0.1, 0.1, 0, 0.1, "U", None, None)])
    assert cat.create_vertex_label("alert", df=df)
    assert not cat.create_vertex_label("alert", df=df)  # skip-if-exists
    assert cat.create_edge_label("similarity", "value", "Integer")
    assert cat.create_index("byObjectId", "composite", "vertex", ["objectId"])
    info = cat.info()
    assert info["vertexLabels"] == ["alert"]
    assert info["edgeLabels"][0] == {"name": "similarity", "multiplicity": "MULTI"}
    names = {p["name"] for p in info["propertyKeys"]}
    assert {"objectId", "rfscore", "value"} <= names
    # reload from disk
    cat2 = GraphCatalog(str(tmp_path / "g"))
    assert cat2.info() == info


def test_type_mapping():
    # common/Utils.scala:31-41 incl. binary→String downcast + catch-all
    assert property_class_for("binary") == "String"
    assert property_class_for("bigint") == "Long"
    assert property_class_for("float") == "Float"
    assert property_class_for("struct<a:int>") == "String"


def test_fixed_vertex_csv(tmp_path):
    p = tmp_path / "fixed.csv"
    p.write_text(
        '1,"similarity","recipe","string","supernova"\n'
        '4,"similarity","recipe","string","catalog","equals","string","WD*"\n'
        '7,"similarity","recipe","string","intrecipe","equals","int",9\n'
        '9,"similarity","recipe","string","floatrecipe","equals","float",9.8\n'
        '11,"similarity","recipe","string","boolrecipe","equals","bool",false\n'
        '12,"similarity","recipe","string","unknownrecipe","equals","unknown","weird"\n'
    )
    vs = read_fixed_vertices(str(p), reserved_id_space=200)
    assert [v.id for v in vs] == [1, 4, 7, 9, 11, 12]
    assert vs[1].prop("equals") == "WD*"
    assert vs[2].prop("equals") == 9
    assert vs[3].prop("equals") == 9.8
    assert vs[4].prop("equals") is False
    assert vs[5].prop("equals") == "weird"


# ------------------------------------------------ table-open schema memo


def _assert_same_table(df, path):
    fresh = df.sparkSession.read.parquet(path)
    assert df.schema == fresh.schema  # column order + partition types
    assert sorted(df.collect()) == sorted(fresh.collect())


def _fixed(tmp_path):
    csv = tmp_path / "fixed.csv"
    csv.write_text(
        '1,"similarity","recipe","string","supernova"\n'
        '2,"similarity","recipe","string","catalog","equals","string","WD*"\n'
    )
    return read_fixed_vertices(str(csv), reserved_id_space=10)


def test_open_memo_reads_what_spark_reads(spark, store, alerts_df, tmp_path):
    _load_graph(store, alerts_df)
    store.write_fixed_vertices(_fixed(tmp_path))
    opens = [
        (store.vertices, store.vertex_path),
        (store.edges, store.edge_path),
        (store.fixed_vertices, store.fixed_vertex_path),
    ]
    for open_, path in opens:
        first, n_first = jobs_submitted(spark, open_)
        again, n_again = jobs_submitted(spark, open_)
        assert n_first >= 1  # the inference job, so the count is live
        assert n_again == 0
        _assert_same_table(first, path)
        _assert_same_table(again, path)
    # vertices partitioned by date: year/month/day keep the inferred
    # int type and trail the data columns
    assert store.vertices().columns[-3:] == ["year", "month", "day"]
    assert dict(store.vertices().dtypes)["day"] == "int"


def test_open_memo_sees_appends_deletes_and_rewrites(spark, store, alerts_df):
    _load_graph(store, alerts_df)
    assert store.vertices().count() == 3
    store.write_vertices(
        alerts_df([alert(4, "obj4", 0.5, 0.5, 1, 0.0, "WD*", None, None)])
    )
    v = store.vertices()
    assert sorted(r.id for r in v.collect()) == [1, 2, 3, 4]
    _assert_same_table(v, store.vertex_path)

    store.delete_vertices(spark.createDataFrame([(1,)], "id long"))
    v = store.vertices()
    assert sorted(r.id for r in v.collect()) == [2, 3, 4]
    _assert_same_table(v, store.vertex_path)

    # another writer replaces the table with a different column set
    spark.createDataFrame([(7, "x")], "id long, note string").write.mode(
        "overwrite"
    ).parquet(store.vertex_path)
    v = store.vertices()
    assert v.columns == ["id", "note"]
    assert [tuple(r) for r in v.collect()] == [(7, "x")]


def test_open_memo_emptied_and_missing_tables(spark, store, alerts_df):
    import shutil

    from pyspark.errors import AnalysisException

    _load_graph(store, alerts_df)
    assert store.edges().count() == 2  # remembered
    # deleting both ends of the only edge empties the edge table:
    # the canonical empty frame, as before
    store.delete_vertices(spark.createDataFrame([(1,), (3,)], "id long"))
    e = store.edges()
    assert e.count() == 0
    assert e.columns == ["src", "dst", "propVal", "property_key", "label"]

    assert store.vertices().count() == 1  # remembered
    shutil.rmtree(store.vertex_path)
    shutil.rmtree(store.edge_path)
    with pytest.raises(AnalysisException):
        store.vertices()
    assert store.edges().count() == 0


def _counted_edges(spark, n):
    """``n`` edge rows whose ``src`` goes through a Python UDF that adds
    one to the returned accumulator per evaluated row."""
    acc = spark.sparkContext.accumulator(0)

    def touch(x):
        acc.add(1)
        return x

    bump = F.udf(touch, "long")
    edges = spark.range(n).select(
        bump(F.col("id")).alias("src"),
        (F.col("id") + 100).alias("dst"),
        F.lit("objectId").alias("propVal"),
    )
    return edges, acc


def test_write_edges_evaluates_input_once(spark, store):
    """Both directions and the written-row count come from one pass
    over the edge set: the input's plan runs once, not once per use."""
    edges, acc = _counted_edges(spark, 7)
    before = persisted_rdds(spark)
    n = store.write_edges(edges, SameValueClassifier(["objectId"]))
    assert acc.value == 7
    assert n == 14
    # the returned count is what landed on disk, both directions
    on_disk = store.edges()
    assert on_disk.count() == n
    assert on_disk.where(F.col("src") >= 100).count() == 7
    assert persisted_rdds(spark) - before == set()


def test_write_edges_releases_edges_when_the_sink_raises(spark, tmp_path):
    class FailingSink(GraphSink):
        def write_vertices(self, df, label):
            raise AssertionError("not called")

        def write_edges(self, df, label):
            assert df.count() == 6  # reads the persisted edge set
            raise RuntimeError("sink down")

    store = GraphStore(spark, str(tmp_path / "graph"), sink=FailingSink())
    edges, acc = _counted_edges(spark, 3)
    before = persisted_rdds(spark)
    with pytest.raises(RuntimeError, match="sink down"):
        store.write_edges(edges, SameValueClassifier(["objectId"]))
    assert acc.value == 3
    assert persisted_rdds(spark) - before == set()


# ------------------------------------------------ one edge write per batch

SIMILARITY = SimilarityClassifier("rfscore OR objectId")
EXACTMATCH = SameValueClassifier(["objectId"])
SATR = TwoModeClassifier([], [])


def _edge_sets(spark):
    """Two pairs of similarity edges, three of exactmatch edges."""
    sim = spark.createDataFrame(
        [(1, 2, 2), (3, 4, 1)], "src long, dst long, propVal int"
    )
    same = spark.createDataFrame(
        [(1, 5, "objectId"), (5, 9, "objectId"), (2, 7, "objectId")],
        "src long, dst long, propVal string",
    )
    return [(sim, SIMILARITY), (same, EXACTMATCH)]


def _no_edges(spark):
    """An edge set that comes out empty only at runtime: a shuffled
    join that matches nothing, the shape AQE rewrites once it sees the
    empty shuffle."""
    a = spark.range(50).withColumnRenamed("id", "k")
    b = spark.range(100, 150).withColumnRenamed("id", "k")
    return a.join(b.hint("shuffle_hash"), "k").select(
        F.col("k").alias("src"), F.col("k").alias("dst"), F.lit("x").alias("propVal")
    )


def _parquet_files(path):
    import os

    return [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


def _within(seconds, fn):
    """fn() run in a daemon thread; fails the test if it has not
    returned after ``seconds`` (a write waiting on metrics that never
    come would otherwise hang the suite)."""
    import threading

    out = {}
    t = threading.Thread(target=lambda: out.setdefault("v", fn()), daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"still running after {seconds} s"
    return out["v"]


def test_write_edge_sets_counts_equal_rows_on_disk(spark, store):
    counts = store.write_edge_sets(_edge_sets(spark))
    assert counts == {"similarity": 4, "exactmatch": 6}
    on_disk = store.edges()
    assert dict(on_disk.groupBy("label").count().collect()) == counts
    # both directions, propVal as string, each label's property key
    assert edge_set(on_disk.where("label = 'similarity'")) == {
        (1, 2, "2"), (2, 1, "2"), (3, 4, "1"), (4, 3, "1")
    }
    assert {
        (r.label, r.property_key)
        for r in on_disk.select("label", "property_key").distinct().collect()
    } == {("similarity", "value"), ("exactmatch", "propertyname")}
    # one write: one file per label at this size, sorted on (src, propVal)
    import pyarrow.parquet as pq

    for label in counts:
        (f,) = _parquet_files(f"{store.edge_path}/label={label}")
        t = pq.read_table(f"{store.edge_path}/label={label}/{f}")
        keys = list(zip(t["src"].to_pylist(), t["propVal"].to_pylist()))
        assert keys == sorted(keys)


def test_write_edge_sets_with_no_edges_returns_zeros(spark, store):
    counts = _within(
        120,
        lambda: store.write_edge_sets(
            [(_no_edges(spark), SIMILARITY), (_no_edges(spark), EXACTMATCH)]
        ),
    )
    assert counts == {"similarity": 0, "exactmatch": 0}
    assert _parquet_files(store.edge_path) == []
    assert store.edges().count() == 0


def test_sink_counts_equal_parquet_counts(spark, tmp_path):
    received = []

    class CountingSink(GraphSink):
        def write_vertices(self, df, label):
            raise AssertionError("not called")

        def write_edges(self, df, label):
            received.append((label, df.count()))

    def sets():
        return [*_edge_sets(spark), (_no_edges(spark), SATR)]

    sink = GraphStore(spark, str(tmp_path / "s"), sink=CountingSink())
    parquet = GraphStore(spark, str(tmp_path / "p"))
    counts = _within(120, lambda: sink.write_edge_sets(sets()))
    assert counts == parquet.write_edge_sets(sets())
    assert counts == {"similarity": 4, "exactmatch": 6, "satr": 0}
    # the sink sees each label with rows once; the empty set sends nothing
    assert sorted(received) == [("exactmatch", 6), ("similarity", 4)]
    assert _parquet_files(str(tmp_path / "s")) == []


# ------------------------------------------------- Arrow point reads


def _night(spark, night, n=4, schema="id long, objectId string, rfscore double"):
    """``n`` vertices of one night: ids night*100+i, objectIds o<night>_<i>
    (``o_shared`` on i == 0, so that key spans every night)."""
    rows = [
        (night * 100 + i, "o_shared" if i == 0 else f"o{night}_{i}", i / 7, 2019, 2, night)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, schema + ", year int, month int, day int")


_TYPES_SCHEMA = (
    "id long, objectId string, flag boolean, b byte, sh short, n int, "
    "mag float, rf double, amount decimal(10,3), raw binary, night date, "
    "seen timestamp, year int, month int, day int"
)


def _types_store(spark, store):
    """Every column type a vertex table can hold, null cells included."""
    import datetime as dt
    from decimal import Decimal

    full = (
        1, "oA", True, 7, 300, 70_000, 0.1, 0.95, Decimal("12.345"), b"\x00\xff",
        dt.date(2019, 2, 1), dt.datetime(2019, 2, 1, 3, 4, 5, 678_000), 2019, 2, 1,
    )
    nulls = (2, "oB", *([None] * 10), 2019, 2, 1)
    store.write_vertices(spark.createDataFrame([full, nulls], _TYPES_SCHEMA))
    return [{"id": 1}, {"objectId": "oB"}, {"id": 1, "flag": True}, {"objectId": "oA", "n": 70_000}]


def _drift_store(spark, store):
    """Nights whose files differ in columns."""
    store.write_vertices(_night(spark, 1))
    store.write_vertices(_night(spark, 2, schema="id long, objectId string, extra string"))
    store.write_vertices(_night(spark, 3, schema="id long, objectId string, rfscore float"))
    return [{"id": 101}, {"id": 202}, {"objectId": "o_shared"}, {"objectId": "o3_1"}]


def _appended_store(spark, store):
    """A lookup remembers the table, then a night is appended."""
    store.write_vertices(_night(spark, 1))
    GraphQuery(store).V(id=101).collect()
    store.write_vertices(_night(spark, 2))
    return [{"id": 201}, {"objectId": "o_shared"}, {"objectId": "o2_3", "label": "alert"}]


def _deleted_store(spark, store):
    store.write_vertices(_night(spark, 1))
    store.write_vertices(_night(spark, 2))
    GraphQuery(store).V(id=101).collect()
    store.delete_vertices(spark.createDataFrame([(101,), (200,)], "id long"))
    return [{"id": 101}, {"id": 102}, {"objectId": "o_shared"}, {"objectId": "o2_1"}]


def _swap_interrupted_store(spark, store):
    """A delete rewrite whose swap stopped after removing the table:
    the complete rewrite sits in ``vertices__tmp``."""
    import os

    store.write_vertices(_night(spark, 1))
    store.write_vertices(_night(spark, 2))
    store.delete_vertices(spark.createDataFrame([(102,)], "id long"))
    os.rename(store.vertex_path, store.vertex_path + "__tmp")
    return [{"id": 102}, {"id": 201}, {"objectId": "o_shared"}]


@pytest.mark.parametrize(
    "build, root",
    [
        (_types_store, "graph"),
        (_drift_store, "graph"),
        (_appended_store, "graph"),
        (_deleted_store, "graph"),
        (_swap_interrupted_store, "graph"),
        (_appended_store, "my graph"),
        (_drift_store, "file-uri"),
    ],
    ids=["types", "column-drift", "append", "delete", "interrupted-swap", "space-in-path", "file-uri"],
)
def test_arrow_point_reads_equal_spark_reads(spark, tmp_path, build, root):
    """A bounded lookup served by the Arrow reader returns the Spark
    plan's rows, column order and types: through ``V``, ``value_map``
    and Gremlin ``has().next()``/``toList()``."""
    from grafink_spark.gremlin import gremlin

    path = (tmp_path / root).as_uri() if root == "file-uri" else str(tmp_path / root)
    store = GraphStore(spark, path)
    lookups = build(spark, store)
    g = GraphQuery(store)
    for has in lookups:
        assert store._lookup(store.vertex_path, **has) is not None  # Arrow serves it
        arrow_rows = sorted(g.V(**has).collect(), key=repr)
        spark_rows = sorted(g._scan(has).collect(), key=repr)
        assert arrow_rows == spark_rows, has
        assert [r.asDict() for r in arrow_rows] == [r.asDict() for r in spark_rows]
        assert g.V(**has).schema == g._scan(has).schema
        if set(has) == {"id"}:
            expect = spark_rows[0].asDict() if spark_rows else {}
            assert g.value_map(has["id"]) == expect
        if set(has) == {"objectId"}:
            key = has["objectId"]
            row = gremlin(g, f'g.V().has("objectId", "{key}").next()')
            assert (row is None) == (not spark_rows) and (row is None or row in spark_rows)
            listed = gremlin(g, f'g.V().has("objectId", "{key}").toList()')
            assert sorted(listed, key=repr) == spark_rows


def test_point_reads_find_a_key_in_the_last_of_three_nights(spark, store):
    """Scanning three night files, the filter leaves the first two
    files' batches empty; such a table still gives its row to
    ``createDataFrame`` and to the Row conversion."""
    from grafink_spark.gremlin import gremlin

    for night in (1, 2, 3):
        store.write_vertices(_night(spark, night))
    g = GraphQuery(store)
    table, _ = store._lookup(store.vertex_path, objectId="o3_2")
    assert table.num_rows == 1 and table.column("id").num_chunks == 1
    assert [r.id for r in g.V(objectId="o3_2").collect()] == [302]
    assert [r.id for r in g.V(id=302).collect()] == [302]
    assert g.value_map(302)["objectId"] == "o3_2"
    assert gremlin(g, 'g.V().has("objectId", "o3_2").next()').id == 302
    assert gremlin(g, "g.V(302).next()").objectId == "o3_2"


def test_point_reads_run_no_spark_job(spark, store):
    from grafink_spark.gremlin import gremlin

    for night in (1, 2):
        store.write_vertices(_night(spark, night))
    g = GraphQuery(store)
    reads = {
        "value_map": lambda: g.value_map(202)["id"],
        "has_next": lambda: gremlin(g, 'g.V().has("objectId", "o2_2").next()').id,
        "valueMap": lambda: gremlin(g, "g.V(202).valueMap(true)")["id"],
        "V_collect": lambda: g.V(objectId="o2_2").collect()[0].id,
    }
    g.value_map(202)  # the first read after a write refreshes the memo
    for name, read in reads.items():
        out, jobs = jobs_submitted(spark, read)
        assert (out, jobs) == (202, 0), name


def test_bounded_count_runs_no_spark_job(spark, store, monkeypatch):
    """``count()`` straight on a bounded lookup counts the Arrow table's
    rows; past ``LOOKUP_ROW_CAP`` Spark counts."""
    from grafink_spark.graph import storage
    from grafink_spark.gremlin import gremlin

    for night in (1, 2, 3):
        store.write_vertices(_night(spark, night))
    g = GraphQuery(store)
    g.value_map(202)  # the first read after a write refreshes the memo
    counts = {
        "by_id": (lambda: gremlin(g, "g.V(202).count()"), 1),
        "by_id_missing": (lambda: gremlin(g, "g.V(999).count()"), 0),
        "has": (lambda: gremlin(g, 'g.V().has("objectId", "o2_2").count()'), 1),
        "shared": (lambda: gremlin(g, 'g.V().has("objectId", "o_shared").count()'), 3),
        "vertex_count": (lambda: g.vertex_count(objectId="o_shared"), 3),
    }
    for name, (read, want) in counts.items():
        assert jobs_submitted(spark, read) == (want, 0), name
    monkeypatch.setattr(storage, "LOOKUP_ROW_CAP", 2)
    out, jobs = jobs_submitted(spark, counts["shared"][0])
    assert out == 3 and jobs > 0


def test_over_cap_and_off_local_lookups_keep_the_spark_plan(spark, store, monkeypatch):
    from grafink_spark.graph import storage
    from grafink_spark.gremlin import gremlin

    for night in (1, 2, 3):
        store.write_vertices(_night(spark, night))
    g = GraphQuery(store)
    monkeypatch.setattr(storage, "LOOKUP_ROW_CAP", 2)
    assert store._lookup(store.vertex_path, objectId="o_shared") is None
    assert store._lookup(store.vertex_path, objectId="o1_1") is not None
    over = g.V(objectId="o_shared")
    assert "LocalTableScan" not in over._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.id for r in over.collect()) == [100, 200, 300]
    listed = gremlin(g, 'g.V().has("objectId", "o_shared").toList()')
    assert sorted(r.id for r in listed) == [100, 200, 300]
    assert gremlin(g, 'g.V().has("objectId", "o_shared").next()').id in (100, 200, 300)
    # a literal Arrow would not compare as Spark does keeps the plan too
    assert store._lookup(store.vertex_path, id="101") is None
    assert [r.objectId for r in g.V(id="101").collect()] == ["o1_1"]
    # no pyarrow filesystem is wired in for other schemes; the reader
    # declines before touching the store
    assert GraphStore(spark, "hdfs://namenode:8020/g")._lookup("hdfs://namenode:8020/g/vertices", id=1) is None
    assert storage._local_root("file:///data/my graph/v") == "/data/my graph/v"
