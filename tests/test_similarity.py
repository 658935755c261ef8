"""Golden tests from SimilarityClassifierSpec.scala:56-215, run through
both the reference-shaped theta join (tests/conftest.py) and the rule's
decomposed plan."""

import pytest

from grafink_spark.rules import base
from grafink_spark.rules.similarity import SimilarityClassifier
from tests.conftest import alert, edge_set, similarity_reference

PLANS = {
    "reference": similarity_reference,
    "decomposed": lambda exp, loaded, current: SimilarityClassifier(exp).classify(
        loaded, current
    ),
}


@pytest.mark.parametrize("mode", list(PLANS))
def test_new_old_edge(spark, alerts_df, mode):
    classify = PLANS[mode]
    loaded = alerts_df(
        [alert(1, "ZTF19acmbyav", 0.388, 0.36001157760620117, 1, 0.0, "WD*", None, None)]
    )
    current = alerts_df(
        [alert(2, "ZTF19acmbyav", 0.988, 0.67001157760620889, 0, 0.0, "Unknown", None, None)]
    )
    assert edge_set(classify("rfscore OR objectId", loaded, current)) == {(2, 1, 1)}


@pytest.mark.parametrize("mode", list(PLANS))
def test_new_new_edge(spark, alerts_df, mode):
    classify = PLANS[mode]
    current = alerts_df(
        [
            alert(1, "ZTF19acmbyav", 0.388, 0.36001157760620117, 1, 0.0, "WD*", None, None),
            alert(2, "ZTF19acmbyav", 0.988, 0.67001157760620889, 0, 0.0, "Unknown", None, None),
        ]
    )
    loaded = alerts_df(
        [alert(3, "ZTF20acmkyap", 0.188, 0.67001157760620889, 0, 0.2, "Unknown", None, None)]
    )
    assert edge_set(classify("rfscore OR objectId", loaded, current)) == {(2, 1, 1)}


@pytest.mark.parametrize("mode", list(PLANS))
def test_similarity_value_counts_matching_conditions(spark, alerts_df, mode):
    exp = (
        "(rfscore AND snn_snia_vs_nonia) OR mulens OR classtar OR cdsxmatch "
        "OR objectId OR roid"
    )
    loaded = alerts_df(
        [alert(1, "toto", 0.99, 0.8, 3, 0.0, "C*", "CONSTANT", "CONSTANT")]
    )
    current = alerts_df(
        [alert(2, "toto", 0.95, 0.95, 2, 0.0, "C*", "ML", "CONSTANT")]
    )
    # matching conditions: rfscore, classtar, cdsxmatch, objectId, roid = 5
    assert edge_set(PLANS[mode](exp, loaded, current)) == {(2, 1, 5)}


@pytest.mark.parametrize("mode", list(PLANS))
def test_no_self_pairs_or_duplicates(spark, alerts_df, mode):
    current = alerts_df(
        [
            alert(5, "X", 0.1, 0.1, 0, 0.5, "Unknown", None, None),
            alert(6, "X", 0.1, 0.1, 0, 0.5, "Unknown", None, None),
            alert(7, "Y", 0.1, 0.1, 0, 0.5, "Unknown", None, None),
        ]
    )
    loaded = alerts_df([])
    assert edge_set(PLANS[mode]("objectId", loaded, current)) == {(6, 5, 1)}


@pytest.mark.parametrize("mode", list(PLANS))
def test_null_safe_default_equality(spark, alerts_df, mode):
    # default token condition is null-safe <=> : two null mulens_class_1
    # values match (SimilarityExpParser.scala:58)
    current = alerts_df(
        [
            alert(5, "A", 0.1, 0.1, 0, 0.5, "Unknown", None, None),
            alert(6, "B", 0.1, 0.1, 0, 0.5, "Unknown", None, None),
        ]
    ).withColumnRenamed("mulens_class_1", "mulens_class_one")
    loaded = alerts_df([]).withColumnRenamed("mulens_class_1", "mulens_class_one")
    assert edge_set(PLANS[mode]("mulens_class_one", loaded, current)) == {(6, 5, 1)}


def test_modes_agree_on_larger_random_batch(spark, alerts_df):
    import random

    rnd = random.Random(7)
    rows = [
        alert(
            i,
            f"obj{rnd.randint(0, 20)}",
            rnd.random(),
            rnd.random(),
            rnd.randint(0, 3),
            rnd.random(),
            rnd.choice(["Unknown", "WD*", "AGN", "C*"]),
            rnd.choice([None, "ML", "CONSTANT"]),
            rnd.choice([None, "ML", "CONSTANT"]),
        )
        for i in range(1, 61)
    ]
    current = alerts_df(rows[:30])
    loaded = alerts_df(rows[30:])
    exp = "(rfscore AND snn_snia_vs_nonia) OR mulens OR classtar OR cdsxmatch OR objectId OR roid"
    ref = edge_set(similarity_reference(exp, loaded, current))
    dec = edge_set(SimilarityClassifier(exp).classify(loaded, current))
    assert ref == dec
    assert len(ref) > 0


def _hot_rows(spark, n, keys):
    """``n`` rows whose objectId cycles over ``keys`` values, NULL on
    every 13th row; cdsxmatch is NULL on every 5th."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.concat(F.lit("obj"), F.col("id") % keys))
        .alias("objectId"),
        ((F.abs(F.hash(F.col("id") + 7)) % 1000) / 1000.0).alias("rfscore"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.lit("AGN"))
        .alias("cdsxmatch"),
    )


def _salted(monkeypatch, exp, old, cur):
    """The rule's edges with the hot-key threshold at 4 rows, an odd
    salt count (5) and no broadcast (which would take the hot keys
    instead), after checking the salted join ran."""
    monkeypatch.setattr(base, "HOT_KEY_ROWS", 4)
    monkeypatch.setattr(
        "grafink_spark.rules.similarity.autobroadcast_threshold_bytes",
        lambda spark: None,
    )
    monkeypatch.setattr(base, "salt_buckets", lambda spark: 5)
    salted = SimilarityClassifier(exp).classify(old, cur)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan
    assert "CartesianProduct" not in plan
    return edge_set(salted)


def test_salted_hot_key_equivalence(spark, monkeypatch):
    """Output-skew salting in the decomposed equality branches: forcing
    the hot path (tiny threshold, odd bucket count) must reproduce the
    reference edge set exactly, nulls included. A build side under the
    broadcast threshold takes the broadcast remedy instead, with the
    same edges."""
    rows = _hot_rows(spark, 600, 12)
    cur = rows.where("id % 3 != 0")
    old = rows.where("id % 3 = 0")
    exp = "objectId OR rfscore"
    ref = edge_set(similarity_reference(exp, old, cur))
    monkeypatch.setattr(base, "HOT_KEY_ROWS", 4)
    bcast = SimilarityClassifier(exp).classify(old, cur)
    plan = bcast._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(id1#" in plan and "pmod" not in plan
    assert edge_set(bcast) == ref
    assert _salted(monkeypatch, exp, old, cur) == ref


@pytest.mark.parametrize("exp", ["objectId AND cdsxmatch", "objectId"])
def test_salted_single_branch_with_null_hot_tuples(spark, monkeypatch, exp):
    """A single-disjunct expression runs the probe too, and a hot tuple
    may hold a NULL cell: a two-column equality branch (NULL cdsxmatch
    cells in hot tuples) and a one-column branch (a hot NULL objectId)
    both take the salted join and equal the reference."""
    rows = _hot_rows(spark, 300, 4)
    cur = rows.where("id % 3 != 0")
    old = rows.where("id % 3 = 0")
    got = _salted(monkeypatch, exp, old, cur)
    assert got == edge_set(similarity_reference(exp, old, cur))
    assert got
