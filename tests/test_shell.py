"""Shell bindings: graph + traversal helpers + SQL views over a real
store."""

from pyspark.sql import functions as F

from grafink_spark.config import GrafinkConfig
from grafink_spark.graph.storage import GraphStore
from grafink_spark.rules.base import ClassifierRule
from grafink_spark.shell import build_bindings


class _FakeRule(ClassifierRule):
    def classify(self, loaded, current):  # pragma: no cover
        raise NotImplementedError

    @property
    def name(self):
        return "fake"

    @property
    def edge_label(self):
        return "similarity"

    @property
    def property_key(self):
        return "value"


def test_shell_bindings(spark, tmp_path):
    root = str(tmp_path / "graph")
    store = GraphStore(spark, root)
    store.write_vertices(
        spark.createDataFrame(
            [(1, "ZTFa"), (2, "ZTFb")], "id long, objectId string"
        )
    )
    store.write_edges(
        spark.createDataFrame([(2, 1, 3)], "src long, dst long, propVal int"),
        _FakeRule(),
    )

    cfg = GrafinkConfig.from_dict({"graph": {"storagePath": root}})
    b = build_bindings(cfg, spark=spark)
    assert set(b) == {"spark", "store", "g", "gremlin"}
    g = b["g"]
    assert g.vertex_count() == 2
    assert g.V(objectId="ZTFa").count() == 1
    # both directions materialized at the sink
    assert g.out_e("similarity").count() == 2
    assert [r.neighbor_id for r in g.neighbors(2).collect()] == [1]
    # SQL views registered
    got = spark.sql(
        "SELECT count(*) AS n FROM edges WHERE label = 'similarity'"
    ).first()
    assert got.n == 2
    deg = {r.id: r.degree for r in g.degree().collect()}
    assert deg == {1: 1, 2: 1}


def test_neighborhood_multi_hop(spark, tmp_path):
    from grafink_spark.graph.query import GraphQuery

    root = str(tmp_path / "g2")
    store = GraphStore(spark, root)
    store.write_vertices(
        spark.createDataFrame([(i, f"v{i}") for i in range(1, 6)],
                              "id long, objectId string")
    )
    # chain 1→2→3→4, plus 5 isolated (write_edges doubles directions)
    store.write_edges(
        spark.createDataFrame([(1, 2, 0), (2, 3, 0), (3, 4, 0)],
                              "src long, dst long, propVal int"),
        _FakeRule(),
    )
    g = GraphQuery(store)
    hop1 = {r.neighbor_id for r in g.neighborhood(1, hops=1).collect()}
    assert hop1 == {2}
    hop2 = {r.neighbor_id for r in g.neighborhood(1, hops=2).collect()}
    assert hop2 == {2, 3}
    hop9 = {r.neighbor_id for r in g.neighborhood(1, hops=9).collect()}
    assert hop9 == {2, 3, 4}  # early-exit when the frontier empties
    assert g.neighborhood(5, hops=3).count() == 0


def test_neighborhood_deep_checkpointed(spark, tmp_path):
    """Deep (hops > 3) traversal: iterative mode with checkpointed
    frontiers — correct results, and the returned plan's size is bounded
    by checkpoint_interval, NOT by hops (lineage truncation)."""
    import re

    from grafink_spark.graph.query import GraphQuery

    root = str(tmp_path / "g3")
    store = GraphStore(spark, root)
    store.write_vertices(
        spark.createDataFrame([(i, f"v{i}") for i in range(1, 16)],
                              "id long, objectId string")
    )
    # chain 1→2→…→15
    store.write_edges(
        spark.createDataFrame([(i, i + 1, 0) for i in range(1, 15)],
                              "src long, dst long, propVal int"),
        _FakeRule(),
    )
    g = GraphQuery(store)
    got = {r.neighbor_id for r in g.neighborhood(1, hops=6).collect()}
    assert got == {2, 3, 4, 5, 6, 7}

    def njoins(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return len(re.findall(r"\bJoin\b", plan))

    # Without checkpointing, the hops=11 plan would hold ~2 joins per
    # hop; checkpoint boundaries truncate it to the post-checkpoint tail,
    # so depth 5 and depth 11 plans are the same size.
    j5, j11 = njoins(g.neighborhood(1, hops=5)), njoins(g.neighborhood(1, hops=11))
    assert j11 == j5
    assert j11 <= 10


def test_gremlin_string_surface(spark, tmp_path):
    """The seven §2.8 traversals typed as Gremlin STRINGS — the
    reference's REPL syntax (/root/reference/README.md:419-489) parsed
    onto GraphQuery (VERDICT r2 item 10)."""
    import pytest

    from grafink_spark.config import GrafinkConfig
    from grafink_spark.gremlin import GremlinParseError, gremlin
    from grafink_spark.shell import build_bindings

    root = str(tmp_path / "graph")
    store = GraphStore(spark, root)
    store.write_vertices(
        spark.createDataFrame(
            [(11, "ZTFa", None), (12, "ZTFb", None)],
            "id long, objectId string, recipe string",
        )
    )
    store.write_vertices(
        spark.createDataFrame(
            [(3, None, "asteroids")], "id long, objectId string, recipe string"
        ),
        label="similarity",
    )
    store.write_edges(
        spark.createDataFrame(
            [(12, 11, 2)], "src long, dst long, propVal int"
        ),
        _FakeRule(),
    )

    cfg = GrafinkConfig.from_dict({"graph": {"storagePath": root}})
    b = build_bindings(cfg, spark=spark)
    g = b["g"]

    # 1. vertex count
    assert gremlin(g, "g.V().count()") == 3
    # 2. point lookup by property (composite-index path) + .next()
    df = gremlin(g, 'g.V().has("objectId", "ZTFa")')
    assert [r.id for r in df.collect()] == [11]
    row = gremlin(g, 'g.V().has("objectId", "ZTFa").next()')
    assert row.id == 11
    # 3. edge filter by property (both directions materialized)
    e = gremlin(g, 'g.V().outE("similarity").has("value", 2)')
    assert {(r.src, r.dst) for r in e.collect()} == {(12, 11), (11, 12)}
    # 4. neighborhood from a vertex id
    e1 = gremlin(g, 'g.V(12).outE("similarity").has("value", 2)')
    assert [(r.src, r.dst) for r in e1.collect()] == [(12, 11)]
    # 4b. .out() neighbor ids
    n = gremlin(g, 'g.V(12).out("similarity")')
    assert [r.neighbor_id for r in n.collect()] == [11]
    # 5. degree of a filtered vertex set
    assert gremlin(g, 'g.V().has("recipe", "asteroids").outE().count()') == 0
    assert gremlin(g, 'g.V().has("objectId", "ZTFb").outE().count()') == 1
    # 6. valueMap(true)
    vm = gremlin(g, "g.V(11).valueMap(true)")
    assert vm["objectId"] == "ZTFa" and vm["label"] == "alert"
    # 7. per-label counts
    by_label = {
        r.label: r["count"]
        for r in gremlin(g, "g.V().groupCount().by(label)").collect()
    }
    assert by_label == {"alert": 2, "similarity": 1}

    # transcript no-ops parse: .asScala.toList collects
    rows = gremlin(g, 'g.V().outE("similarity").has("value", 2).asScala.toList')
    assert len(rows) == 2
    # shell binding closes over g
    assert b["gremlin"]("g.V().count()") == 3
    # unsupported steps fail loudly, naming the step
    with pytest.raises(GremlinParseError, match="repeat"):
        gremlin(g, "g.V().repeat(out()).times(2)")


def test_gremlin_edge_cases(spark, tmp_path):
    """Review hardening: explicit restriction tracking (limit), multi-id
    V(), quoted parens, terminals, loud errors."""
    import pytest

    from grafink_spark.config import GrafinkConfig
    from grafink_spark.gremlin import GremlinParseError, gremlin
    from grafink_spark.shell import build_bindings

    root = str(tmp_path / "graph")
    store = GraphStore(spark, root)
    store.write_vertices(
        spark.createDataFrame(
            [(11, "AT2019(bkz)"), (12, "ZTFb"), (13, "ZTFc")],
            "id long, objectId string",
        )
    )
    store.write_edges(
        spark.createDataFrame(
            [(12, 11, 2), (13, 11, 3)], "src long, dst long, propVal int"
        ),
        _FakeRule(),
    )
    cfg = GrafinkConfig.from_dict({"graph": {"storagePath": root}})
    g = build_bindings(cfg, spark=spark)["g"]

    # limit() restricts the vertex set feeding outE (was silently all-edges)
    assert gremlin(g, "g.V().limit(1).outE().count()") <= 2
    # any 2-of-3 vertex subset has strictly fewer out-edges than all 4
    assert gremlin(g, "g.V().limit(2).outE().count()") < gremlin(
        g, "g.V().outE().count()"
    )
    # multi-id V(): all listed vertices
    assert gremlin(g, "g.V(11, 12).count()") == 2
    assert gremlin(g, 'g.V("12", "13").outE().count()') == 2
    # ')' inside a quoted property value parses
    row = gremlin(g, 'g.V().has("objectId", "AT2019(bkz)").next()')
    assert row.id == 11
    # transcript form: count().next() tolerated
    assert gremlin(g, "g.V().count().next()") == 3
    # non-numeric V() id fails loudly as a parse error
    with pytest.raises(GremlinParseError, match="numeric"):
        gremlin(g, 'g.V("ZTFb").count()')
    # real steps after a terminal fail loudly instead of being dropped
    with pytest.raises(GremlinParseError, match="terminal"):
        gremlin(g, 'g.V().count().has("objectId", "x")')
    # groupCount().by(label).next() now yields a Row
    r = gremlin(g, "g.V().groupCount().by(label).next()")
    assert r["count"] == 3


def test_gremlin_in_both_directions(spark, tmp_path):
    """inE/bothE/in/both — both edge directions are materialized, so
    these anchor on dst (or either end)."""
    from grafink_spark.config import GrafinkConfig
    from grafink_spark.gremlin import gremlin
    from grafink_spark.shell import build_bindings

    root = str(tmp_path / "graph")
    store = GraphStore(spark, root)
    store.write_vertices(
        spark.createDataFrame(
            [(21, "a"), (22, "b"), (23, "c")], "id long, objectId string"
        )
    )
    store.write_edges(
        spark.createDataFrame([(22, 21, 2)], "src long, dst long, propVal int"),
        _FakeRule(),
    )
    cfg = GrafinkConfig.from_dict({"graph": {"storagePath": root}})
    g = build_bindings(cfg, spark=spark)["g"]

    # both directions materialized: 2 edge rows total
    assert gremlin(g, "g.V(22).outE().count()") == 1
    assert gremlin(g, "g.V(22).inE().count()") == 1
    assert gremlin(g, "g.V(22).bothE().count()") == 2
    assert gremlin(g, "g.V(23).bothE().count()") == 0
    assert [r.neighbor_id for r in gremlin(g, "g.V(22).in()").collect()] == [21]
    assert [r.neighbor_id for r in gremlin(g, "g.V(22).both()").collect()] == [21]
    # filtered-set bothE: vertices {21} touch both rows of the pair
    assert gremlin(g, 'g.V().has("objectId", "a").bothE().count()') == 2


def _narrowing_graph(spark, tmp_path):
    from grafink_spark.graph.query import GraphQuery

    store = GraphStore(spark, str(tmp_path / "graph"))
    store.write_vertices(
        spark.createDataFrame(
            [(11, "ZTFa", 0.9), (12, "ZTFb", 0.4)],
            "id long, objectId string, rfscore double",
        )
    )
    store.write_edges(
        spark.createDataFrame([(12, 11, 2)], "src long, dst long, propVal int"),
        _FakeRule(),
    )
    return GraphQuery(store)


def test_gremlin_vertex_filters_narrow_edge_steps(spark, tmp_path):
    """A has/hasLabel/limit between g.V(<id>) and outE/inE/bothE keeps
    only the edges of a vertex that passes it."""
    from grafink_spark.gremlin import gremlin

    g = _narrowing_graph(spark, tmp_path)
    for step in ("outE", "inE", "bothE"):
        full = {"outE": 1, "inE": 1, "bothE": 2}[step]
        assert gremlin(g, f"g.V(12).{step}().count()") == full
        # a literal has on a bounded key (the lookup) and a predicate
        assert gremlin(g, f'g.V(12).has("objectId", "nomatch").{step}().count()') == 0
        assert gremlin(g, f'g.V(12).has("objectId", "ZTFb").{step}().count()') == full
        assert gremlin(g, f'g.V(12).has("rfscore", gt(0.5)).{step}().count()') == 0
        assert gremlin(g, f'g.V(12).hasLabel("nolabel").{step}().count()') == 0
        assert gremlin(g, f"g.V(12).limit(0).{step}().count()") == 0
        assert gremlin(g, f"g.V(12).limit(1).{step}().count()") == full


def test_gremlin_vertex_filters_narrow_neighbour_steps(spark, tmp_path):
    """The same filters before out/in/both keep only the neighbours of a
    vertex that passes them."""
    from grafink_spark.gremlin import gremlin

    g = _narrowing_graph(spark, tmp_path)

    def hop(q):
        return sorted(r.neighbor_id for r in gremlin(g, q).collect())

    for step in ("out", "in", "both"):
        assert hop(f'g.V(12).{step}("similarity")') == [11]
        assert hop(f'g.V(12).has("objectId", "nomatch").{step}("similarity")') == []
        assert hop(f'g.V(12).has("objectId", "ZTFb").{step}("similarity")') == [11]
        assert hop(f'g.V(12).has("rfscore", lt(0.5)).{step}()') == [11]
        assert hop(f'g.V(12).hasLabel("nolabel").{step}()') == []
        assert hop(f"g.V(12).limit(0).{step}()") == []
    assert gremlin(g, 'g.V(12).has("objectId", "nomatch").valueMap(true)') == {}
    assert gremlin(g, 'g.V(12).hasLabel("alert").valueMap(true)')["objectId"] == "ZTFb"


def test_gremlin_widened_steps(spark, tmp_path):
    """Round-3 widening: P predicates, hasLabel, values, dedup,
    order().by, id, outV/inV — the common next steps a migrating
    TinkerPop user types beyond the reference's transcripts."""
    import pytest

    from grafink_spark.config import GrafinkConfig
    from grafink_spark.gremlin import GremlinParseError, gremlin
    from grafink_spark.shell import build_bindings

    root = str(tmp_path / "graph")
    store = GraphStore(spark, root)
    store.write_vertices(
        spark.createDataFrame(
            [
                (11, "ZTFa", 0.95, None),
                (12, "ZTFb", 0.40, None),
                (13, "ZTFc", 0.80, None),
            ],
            "id long, objectId string, rfscore double, recipe string",
        )
    )
    store.write_vertices(
        spark.createDataFrame(
            [(3, None, None, "asteroids")],
            "id long, objectId string, rfscore double, recipe string",
        ),
        label="similarity",
    )
    store.write_edges(
        spark.createDataFrame(
            [(12, 11, 2), (13, 11, 5)], "src long, dst long, propVal int"
        ),
        _FakeRule(),
    )
    cfg = GrafinkConfig.from_dict({"graph": {"storagePath": root}})
    g = build_bindings(cfg, spark=spark)["g"]

    # P predicates on vertices
    assert gremlin(g, 'g.V().has("rfscore", gt(0.9)).count()') == 1
    assert gremlin(g, 'g.V().has("rfscore", P.gte(0.8)).count()') == 2
    assert gremlin(g, 'g.V().has("rfscore", between(0.4, 0.8)).count()') == 1
    assert gremlin(g, 'g.V().has("rfscore", inside(0.4, 0.95)).count()') == 1
    assert (
        gremlin(g, 'g.V().has("objectId", within("ZTFa", "ZTFc")).count()')
        == 2
    )
    assert gremlin(g, 'g.V().has("rfscore", neq(0.4)).count()') == 2
    # numeric P on the string-stored edge property casts to double
    assert gremlin(g, 'g.V().outE().has("value", gt(2)).count()') == 2
    assert gremlin(g, 'g.V().outE().has("value", lte(2)).count()') == 2
    # hasLabel
    assert gremlin(g, 'g.V().hasLabel("alert").count()') == 3
    assert gremlin(g, 'g.V().hasLabel("similarity").count()') == 1
    # predicate-restricted vertices constrain outE (semi-join path)
    assert (
        gremlin(g, 'g.V().has("rfscore", gt(0.9)).outE().count()') == 2
    )  # both directions of (12,11) and (13,11) anchor at 11
    # values / dedup / order.by
    vals = gremlin(g, 'g.V().hasLabel("alert").values("objectId").toList')
    assert sorted(v.objectId for v in vals) == ["ZTFa", "ZTFb", "ZTFc"]
    ordered = gremlin(
        g, 'g.V().hasLabel("alert").order().by("rfscore", desc).toList'
    )
    assert [r.id for r in ordered] == [11, 13, 12]
    deduped = gremlin(g, 'g.V().outE().values("value").dedup().toList')
    assert sorted(r.propVal for r in deduped) == ["2", "5"]
    # id() projection
    ids = gremlin(g, 'g.V().hasLabel("similarity").id().toList')
    assert [r.id for r in ids] == [3]
    # outV/inV walk back to vertices
    assert gremlin(g, 'g.V().outE().has("value", gt(2)).inV().count()') == 2
    dst = gremlin(g, 'g.V(13).outE("similarity").inV().values("objectId")')
    assert [r.objectId for r in dst.collect()] == ["ZTFa"]
    # parse errors stay informative
    with pytest.raises(GremlinParseError, match="cannot parse arguments"):
        gremlin(g, 'g.V().has("rfscore", regex("x"))')
    with pytest.raises(GremlinParseError):
        gremlin(g, "g.V().order()")


def test_gremlin_by_id_steps_skip_vertex_open(spark, tmp_path, monkeypatch):
    """Straight after g.V(<id>), valueMap/out/outE read by the id alone:
    the executor opens the vertex table only where a step reads it."""
    from grafink_spark.graph.query import GraphQuery
    from grafink_spark.gremlin import gremlin

    store = GraphStore(spark, str(tmp_path / "graph"))
    store.write_vertices(
        spark.createDataFrame([(11, "ZTFa"), (12, "ZTFb")], "id long, objectId string")
    )
    store.write_edges(
        spark.createDataFrame([(12, 11, 2)], "src long, dst long, propVal int"),
        _FakeRule(),
    )
    g = GraphQuery(store)
    opens, lookups = [], []
    vertices, lookup = GraphStore.vertices, GraphStore._lookup
    monkeypatch.setattr(
        GraphStore, "vertices", lambda self: opens.append(1) or vertices(self)
    )
    monkeypatch.setattr(
        GraphStore,
        "_lookup",
        lambda self, path, **eq: lookups.append(eq) or lookup(self, path, **eq),
    )

    assert gremlin(g, "g.V(11).valueMap(true)")["objectId"] == "ZTFa"
    assert gremlin(g, "g.V(99).valueMap(true)") == {}
    # value_map's own read, once per traversal, by the Arrow reader
    assert opens == [] and lookups == [{"id": 11}, {"id": 99}]
    lookups.clear()
    assert [r.neighbor_id for r in gremlin(g, 'g.V(12).out("similarity")').collect()] == [11]
    assert gremlin(g, "g.V(12).outE().count()") == 1
    assert opens == [] and lookups == []
    # a step that filters the vertex frame still reads it: a bounded one
    # by lookup, any other by opening the table
    assert gremlin(g, 'g.V(12).has("objectId", "ZTFb").count()') == 1
    assert opens == [] and lookups == [{"id": 12, "objectId": "ZTFb"}]
    assert gremlin(g, 'g.V().has("objectId", within("ZTFb")).count()') == 1
    assert opens == [1]
