"""Golden tests from SameValueClassifierSpec.scala:17-213."""

from grafink_spark.rules import base
from grafink_spark.rules.samevalue import SameValueClassifier
from tests.conftest import alert, edge_set


def _current(alerts_df):
    return alerts_df(
        [
            alert(1, "obj1", 0.92, 0.95, 1, 0.0, "WD*", None, None),
            alert(2, "obj2", 0.35, 0.8999, 1, 0.0, "WD*", "ML", "ML"),
            alert(3, "obj1", 0.35, 0.8999, 2, 0.0, "WD*", "ML", "ML"),
        ]
    )


def test_same_value_single_column(spark, alerts_df):
    current = _current(alerts_df)
    loaded = alerts_df(
        [
            alert(4, "obj3", 0.92, 0.95, 1, 0.0, "WD*", None, None),
            alert(13, "obj1", 0.92, 0.95, 1, 0.0, "WD*", None, None),
            alert(4, "obj5", 0.92, 0.95, 1, 0.0, "WD*", None, None),
        ]
    )
    rule = SameValueClassifier(["objectId"])
    assert edge_set(rule.classify(loaded, current)) == {
        (1, 3, "objectId"),
        (1, 13, "objectId"),
        (3, 13, "objectId"),
    }


def test_same_value_two_columns(spark, alerts_df):
    current = alerts_df(
        [
            alert(1, "obj1", 0.92, 0.95, 1, 0.0, "WD*", None, None),
            alert(2, "obj2", 0.35, 0.8999, 1, 0.0, "WD*", "ML", "ML"),
            alert(3, "obj1", 0.35, 0.8999, 2, 0.0, "AGN", "ML", "ML"),
        ]
    )
    loaded = alerts_df(
        [
            alert(4, "obj3", 0.92, 0.95, 1, 0.0, "WD*", None, None),
            alert(13, "obj1", 0.92, 0.95, 1, 0.0, "Cepheid", None, None),
            alert(4, "obj5", 0.92, 0.95, 1, 0.0, "C*", None, None),
        ]
    )
    rule = SameValueClassifier(["objectId", "cdsxmatch"])
    assert edge_set(rule.classify(loaded, current)) == {
        (1, 3, "objectId"),
        (1, 13, "objectId"),
        (3, 13, "objectId"),
        (1, 2, "cdsxmatch"),
        (1, 4, "cdsxmatch"),
        (2, 4, "cdsxmatch"),
    }


def test_empty_loaded_gives_clique_only(spark, alerts_df):
    rule = SameValueClassifier(["objectId"])
    edges = rule.classify(alerts_df([]), _current(alerts_df))
    assert edge_set(edges) == {(1, 3, "objectId")}


def _plain_and_salted(monkeypatch, old, cur, threshold):
    """Edge sets of the plain plan (default threshold) and of the
    salted plan (``threshold`` rows, an odd salt count of 5), after
    checking the salted join ran."""
    plain = SameValueClassifier(["objectId"]).classify(old, cur)
    monkeypatch.setattr(base, "HOT_KEY_ROWS", threshold)
    monkeypatch.setattr(base, "salt_buckets", lambda spark: 5)
    salted = SameValueClassifier(["objectId"]).classify(old, cur)
    # plan stays equi-join everywhere (no BNLJ/cartesian from salting)
    # and the salts appear in it
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    return edge_set(plain), edge_set(salted)


def test_salted_hot_key_path_equivalence(spark, monkeypatch):
    """Output-skew salting: forcing the hot path (tiny threshold, odd
    bucket count) must produce exactly the plain single-join edge set —
    including null-key cliques and new×old pairs."""
    from pyspark.sql import functions as F

    rows = spark.range(400).select(
        F.col("id"),
        F.when(F.col("id") % 17 == 0, None)
        .otherwise(F.concat(F.lit("k"), F.col("id") % 8))
        .alias("objectId"),
    )
    cur = rows.where(F.col("id") % 3 != 0)
    old = rows.where(F.col("id") % 3 == 0)
    plain, salted = _plain_and_salted(monkeypatch, old, cur, 3)
    assert salted == plain


def test_hot_key_on_loaded_side_still_equivalent(spark, monkeypatch):
    """Skew routing counts BOTH sides: a key hot only in the loaded/old
    table takes the salted path (r2 review finding) and the edge set is
    unchanged."""
    from pyspark.sql import functions as F

    cur = spark.range(5).select(F.col("id"), F.lit("hot").alias("objectId"))
    old = spark.range(100, 400).select(
        F.col("id"), F.lit("hot").alias("objectId")
    )
    plain, salted = _plain_and_salted(monkeypatch, old, cur, 50)
    assert salted == plain
