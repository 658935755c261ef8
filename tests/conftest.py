"""Shared pytest fixtures: one local SparkSession + alert-row builders
mirroring the reference's genAlert (SimilarityClassifierSpec.scala:20-52)."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from grafink_spark.session import get_spark

ALERT_SCHEMA = (
    "id long, objectId string, candid long, cdsxmatch string, rfscore double, "
    "snn_snia_vs_nonia double, snn_sn_vs_all double, drb float, ndethist int, "
    "classtar float, roid int, mulens_class_1 string, mulens_class_2 string, "
    "year int, month int, day int"
)


def alert(
    id: int,
    objectId: str,
    rfscore: float,
    snn_snia_vs_nonia: float,
    roid: int,
    classtar: float,
    cdsxmatch: str,
    mulens_class_1: str | None,
    mulens_class_2: str | None,
    snn_sn_vs_all: float = 0.80,
    drb: float = 0.79,
    ndethist: int = 392,
) -> dict:
    return {
        "id": id,
        "objectId": objectId,
        "candid": 1034528862715010005 + id,
        "cdsxmatch": cdsxmatch,
        "rfscore": rfscore,
        "snn_snia_vs_nonia": snn_snia_vs_nonia,
        "snn_sn_vs_all": snn_sn_vs_all,
        "drb": drb,
        "ndethist": ndethist,
        "classtar": classtar,
        "roid": roid,
        "mulens_class_1": mulens_class_1,
        "mulens_class_2": mulens_class_2,
        "year": 2019,
        "month": 2,
        "day": 1,
    }


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    return get_spark("grafink-tests", master="local[4]", shuffle_partitions=8)


@pytest.fixture()
def alerts_df(spark):
    def make(rows: list[dict]):
        return spark.createDataFrame(rows, ALERT_SCHEMA)

    return make


def edge_set(df) -> set[tuple]:
    return {tuple(r) for r in df.select("src", "dst", "propVal").collect()}


def similarity_reference(exp: str, loaded, current):
    """The similarity rule as the reference writes it: one theta join of
    current (side 1) against loaded ∪ current (side 2) on
    ``id1 > id2 AND <expression>``, valued by the number of token
    occurrences whose condition holds (SimilarityClassifer.scala:44-108).
    The engine's decomposed plan must give the same edges."""
    from functools import reduce

    from pyspark.sql import functions as F

    from grafink_spark.rules.exp_parser import (
        col_name_to_condition,
        expand_columns,
        parse_similarity_exp,
    )

    parsed = parse_similarity_exp(exp)
    cols = ["id"] + expand_columns(parsed.columns)
    df1 = current.select(*[F.col(c).alias(f"{c}1") for c in cols])
    df2 = (
        loaded.select(*cols)
        .unionByName(current.select(*cols))
        .select(*[F.col(c).alias(f"{c}2") for c in cols])
    )
    sim = reduce(
        lambda acc, t: acc + F.when(col_name_to_condition(t), 1).otherwise(0),
        parsed.columns,
        F.lit(0),
    )
    return df1.join(df2, (F.col("id1") > F.col("id2")) & parsed.condition).select(
        F.col("id1").alias("src"),
        F.col("id2").alias("dst"),
        sim.cast("int").alias("propVal"),
    )


def persisted_rdds(spark) -> set[int]:
    """Ids of the RDDs Spark holds persisted right now."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def jobs_submitted(spark, fn):
    """(fn(), Spark jobs fn submitted), counted under a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts land async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
