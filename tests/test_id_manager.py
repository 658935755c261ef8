"""ID manager goldens (IDManagerSparkServiceSpec.scala:22-91):
empty store → fetchID = reservedIdSpace; 5 rows + reserved 7 → ids {8..12}."""

import pytest

from grafink_spark.config import IDManagerConfig
from grafink_spark.id_manager import IDManager, zip_with_index
from tests.conftest import alert, jobs_submitted


@pytest.fixture()
def idm(spark, tmp_path):
    return IDManager(
        spark, IDManagerConfig(dataPath=str(tmp_path / "ids"), reservedIdSpace=7)
    )


def _batch(alerts_df, n=5, start=0):
    rows = [
        alert(0, f"ZTF19acmbx{i}", 0.5, 0.5, 0, 0.5, "Unknown", None, None)
        for i in range(start, start + n)
    ]
    return alerts_df(rows).drop("id")


def test_empty_store_max_id_is_reserved_space(spark, idm, alerts_df):
    loaded = idm.read_all(_batch(alerts_df).schema)
    assert loaded.count() == 0
    assert loaded.columns[0] == "id"
    assert idm.fetch_max_id(loaded) == 7


def test_consecutive_ids_from_offset(spark, idm, alerts_df):
    _, current = idm.process(_batch(alerts_df))
    ids = sorted(r.id for r in current.select("id").collect())
    assert ids == [8, 9, 10, 11, 12]


def test_second_batch_continues_sequence(spark, idm, alerts_df):
    idm.process(_batch(alerts_df))
    loaded, current = idm.process(_batch(alerts_df, n=3, start=10))
    assert sorted(r.id for r in current.select("id").collect()) == [13, 14, 15]
    assert loaded.count() == 5
    assert sorted(r.id for r in loaded.select("id").collect()) == [8, 9, 10, 11, 12]


def test_zip_with_index_many_partitions(spark):
    df = spark.range(0, 1000).repartition(13)
    out = zip_with_index(df.toDF("v"), offset=100, id_col="id")
    ids = [r.id for r in out.select("id").collect()]
    assert sorted(ids) == list(range(101, 1101))


def test_zip_with_index_ordered_is_deterministic(spark):
    df = spark.range(0, 500).toDF("v").repartition(7)
    out = zip_with_index(df, offset=0, order_by=["v"])
    rows = out.orderBy("v").collect()
    assert [r.id for r in rows] == [r.v + 1 for r in rows]


def test_id_column_is_first_and_long(spark, idm, alerts_df):
    _, current = idm.process(_batch(alerts_df))
    assert current.columns[0] == "id"
    assert dict(current.dtypes)["id"] == "bigint"


def test_zip_with_index_pins_nondeterministic_lineage(spark, tmp_path):
    """sample()/rand/nondeterministic-UDF lineages can recompute
    different ROWS between the count pass and the id pass; the API must
    detect and checkpoint them (VERDICT r2 residual, ADVICE r1 #1)."""
    from pyspark.sql import functions as F

    from grafink_spark.id_manager import (
        _plan_is_nondeterministic,
        zip_with_index,
    )

    p = str(tmp_path / "src")
    spark.range(1000).selectExpr("id AS v").write.parquet(p)
    scan = spark.read.parquet(p)

    # plain file scan: deterministic, must NOT trigger the pin
    assert _plan_is_nondeterministic(scan) is False
    # the hazard lineages are detected
    assert _plan_is_nondeterministic(scan.sample(0.5, seed=7)) is True
    assert _plan_is_nondeterministic(scan.withColumn("r", F.rand(1))) is True
    nd_udf = F.udf(lambda: 1, "int").asNondeterministic()
    assert _plan_is_nondeterministic(scan.withColumn("u", nd_udf())) is True

    # and the assignment over a sampled input is still consecutive
    out = zip_with_index(scan.sample(0.5, seed=7), offset=100)
    rows = out.select("id").collect()
    ids = sorted(r.id for r in rows)
    assert ids == list(range(101, 101 + len(ids)))


# ------------------------------------------------------- id-store record


def _on_day(df, day):
    from pyspark.sql import functions as F

    return df.withColumn("day", F.lit(day))


def _store_ids(spark, idm):
    return sorted(r.id for r in spark.read.parquet(idm.config.dataPath).collect())


def test_matching_record_opens_store_without_a_job(spark, idm, alerts_df):
    idm.process(_batch(alerts_df))
    idm.process(_batch(alerts_df, n=3, start=10))
    schema = _batch(alerts_df).schema
    loaded, read_jobs = jobs_submitted(spark, lambda: idm.read_all(schema))
    max_id, max_jobs = jobs_submitted(spark, lambda: idm.fetch_max_id(loaded))
    assert (read_jobs, max_jobs) == (0, 0)
    assert max_id == 15
    # the recorded schema reads the store as inference does
    fresh = spark.read.parquet(idm.config.dataPath)
    assert loaded.schema == fresh.schema
    assert sorted(loaded.collect()) == sorted(fresh.collect())
    # the record sits beside the data, where parquet globs do not look
    import os

    assert os.path.basename(idm.record_path).startswith("_")


def test_store_without_record_falls_back_to_the_scan(spark, idm, alerts_df):
    import os

    idm.process(_batch(alerts_df))
    os.remove(idm.record_path)
    _, current = idm.process(_batch(alerts_df, n=3, start=10))
    assert sorted(r.id for r in current.collect()) == [13, 14, 15]
    assert _store_ids(spark, idm) == list(range(8, 16))
    # the append wrote a fresh record, which the next night uses
    loaded, jobs = jobs_submitted(spark, lambda: idm.read_all(current.schema))
    assert jobs == 0 and idm.fetch_max_id(loaded) == 15


def test_store_written_without_records_falls_back_to_the_scan(
    spark, idm, alerts_df
):
    """A store appended before records existed: id-first rows,
    partitioned by date, nothing else beside them."""
    from grafink_spark.id_manager import zip_with_index

    zip_with_index(_batch(alerts_df), offset=7).write.partitionBy(
        "year", "month", "day"
    ).parquet(idm.config.dataPath)
    _, current = idm.process(_batch(alerts_df, n=3, start=10))
    assert sorted(r.id for r in current.collect()) == [13, 14, 15]
    assert _store_ids(spark, idm) == list(range(8, 16))


def test_dropped_partition_falls_back_to_the_scan(spark, idm, alerts_df):
    """clearOnDelete drops the newest day: the record's max id (15) is
    stale, the scan's (12) is not."""
    from datetime import date

    from grafink_spark.sources.partitions import PartitionManager

    idm.process(_on_day(_batch(alerts_df), 1))
    idm.process(_on_day(_batch(alerts_df, n=3, start=10), 2))
    removed = PartitionManager(date(2019, 2, 2), 1, padded=False).delete_partitions(
        idm.config.dataPath
    )
    assert len(removed) == 1
    _, current = idm.process(_on_day(_batch(alerts_df, n=2, start=20), 3))
    assert sorted(r.id for r in current.collect()) == [13, 14]
    assert _store_ids(spark, idm) == list(range(8, 15))


def test_append_by_another_writer_falls_back_to_the_scan(spark, idm, alerts_df):
    from grafink_spark.id_manager import zip_with_index

    idm.process(_batch(alerts_df))
    zip_with_index(_batch(alerts_df, n=2, start=30), offset=12).write.mode(
        "append"
    ).partitionBy("year", "month", "day").parquet(idm.config.dataPath)
    _, current = idm.process(_batch(alerts_df, n=3, start=10))
    assert sorted(r.id for r in current.collect()) == [15, 16, 17]
    assert _store_ids(spark, idm) == list(range(8, 18))
