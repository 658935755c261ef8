"""End-to-end job: partitioned parquet alerts → ids → vertices + edges
(the reference's VertexProcessorSpec/EdgeProcessorSpec end-to-end shape)."""

import json
from datetime import date

from grafink_spark.cli import main as cli_main
from grafink_spark.config import GrafinkConfig
from grafink_spark.graph.query import GraphQuery
from grafink_spark.job import Job
from tests.conftest import ALERT_SCHEMA, alert, jobs_submitted, persisted_rdds


def _write_day(spark, base, rows):
    df = spark.createDataFrame(rows, ALERT_SCHEMA).drop("id")
    df.write.mode("append").partitionBy("year", "month", "day").parquet(base)


def _config(tmp_path):
    return GrafinkConfig.from_dict(
        {
            "reader": {"basePath": str(tmp_path / "alerts")},
            "idManager": {"dataPath": str(tmp_path / "ids"), "reservedIdSpace": 7},
            "edgeLoader": {
                "rulesToApply": ["similarityClassifier", "sameValueClassifier"],
                "similarityClassifer": {"similarityExp": "rfscore OR objectId"},
                "sameValueClassifier": {"colsToConnect": ["objectId"]},
                "taskSize": 2500,
                "parallelism": 4,
            },
            "graph": {"storagePath": str(tmp_path / "graph"), "vertexLabel": "alert"},
        }
    )


def test_job_process_end_to_end(spark, tmp_path):
    base = str(tmp_path / "alerts")
    _write_day(
        spark,
        base,
        [
            alert(0, "obj1", 0.95, 0.2, 0, 0.5, "WD*", None, None),
            alert(0, "obj1", 0.99, 0.2, 0, 0.5, "AGN", None, None),
            alert(0, "obj2", 0.10, 0.2, 0, 0.5, "AGN", None, None),
        ],
    )
    job = Job(spark, _config(tmp_path))
    result = job.process(date(2019, 2, 1), 1)
    assert result.vertices_loaded == 3
    # ids 8,9,10; obj1 pair matches rfscore+objectId; similarity edges ×2 dirs
    q = GraphQuery(job.store)
    assert q.vertex_count() == 3
    sim = job.store.edges().where("label = 'similarity'")
    assert sim.count() == result.edge_counts["similarity"]
    assert result.edge_counts["exactmatch"] >= 2
    info = job.catalog.info()
    assert "alert" in info["vertexLabels"]
    assert {e["name"] for e in info["edgeLabels"]} == {"similarity", "exactmatch"}


def test_job_incremental_and_delete(spark, tmp_path):
    base = str(tmp_path / "alerts")
    _write_day(spark, base, [alert(0, "obj1", 0.5, 0.2, 0, 0.5, "WD*", None, None)])
    cfg = _config(tmp_path)
    job = Job(spark, cfg)
    job.process(date(2019, 2, 1), 1)
    v1 = GraphQuery(job.store).vertex_count()

    rows2 = [alert(0, "obj1", 0.6, 0.2, 0, 0.5, "WD*", None, None)]
    df2 = spark.createDataFrame(rows2, ALERT_SCHEMA).drop("id")
    df2 = df2.withColumn("day", df2.day + 1)
    df2.write.mode("append").partitionBy("year", "month", "day").parquet(base)
    job.process(date(2019, 2, 2), 1)
    assert GraphQuery(job.store).vertex_count() == v1 + 1
    # same objectId across batches → new-old exactmatch edge exists
    em = job.store.edges().where("label = 'exactmatch'")
    assert em.count() >= 2

    deleted = job.delete(date(2019, 2, 2), 1)
    assert deleted == 1
    assert GraphQuery(job.store).vertex_count() == v1


def test_cli_exit_codes(tmp_path):
    # bad duration → exit code 2 (BadArgumentsException)
    cfg = tmp_path / "c.json"
    cfg.write_text(json.dumps({"reader": {"basePath": "/nonexistent"}}))
    rc = cli_main(["--config", str(cfg), "--duration", "9"])
    assert rc == 2


def test_nights_leave_no_cached_batch(spark, tmp_path):
    """Each night's id-assigned batch is released after its edges are
    written: a long run does not accumulate one cached batch per night."""
    base = str(tmp_path / "alerts")
    before = persisted_rdds(spark)
    job = Job(spark, _config(tmp_path))
    for day in (1, 2, 3):
        rows = [alert(0, "obj1", 0.5 + day / 10, 0.2, 0, 0.5, "WD*", None, None)]
        df = spark.createDataFrame(rows, ALERT_SCHEMA).drop("id")
        df = df.withColumn("day", df.day + day - 1)
        df.write.mode("append").partitionBy("year", "month", "day").parquet(base)
        job.process(date(2019, 2, day), 1)
    assert GraphQuery(job.store).vertex_count() == 3
    assert persisted_rdds(spark) - before == set()


def test_process_logs_one_phase_record_per_night(spark, tmp_path, caplog):
    import logging

    base = str(tmp_path / "alerts")
    _write_day(
        spark,
        base,
        [
            alert(0, "obj1", 0.95, 0.2, 0, 0.5, "WD*", None, None),
            alert(0, "obj1", 0.99, 0.2, 0, 0.5, "AGN", None, None),
            alert(0, "obj2", 0.10, 0.2, 0, 0.5, "AGN", None, None),
        ],
    )
    job = Job(spark, _config(tmp_path))
    with caplog.at_level(logging.INFO, logger="grafink_spark.job"):
        result = job.process(date(2019, 2, 1), 1)
    records = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == "grafink_spark.job"
    ]
    assert len(records) == 1
    rec = records[0]
    assert rec["event"] == "ingest"
    assert rec["start_date"] == "2019-02-01" and rec["duration"] == 1
    assert rec["ids_assigned"] == 3 == result.vertices_loaded
    for key in ("read_s", "ids_s", "vertices_s"):
        assert rec[key] >= 0
    assert set(rec["edge_rows"]) == {"similarity", "exactmatch"}
    assert rec["edge_rows"] == result.edge_counts
    assert rec["edges_s"] >= 0


def _three_rule_config(tmp_path):
    fixed = tmp_path / "fixed.csv"
    fixed.write_text(
        '1,"similarity","recipe","string","supernova"\n'
        '2,"similarity","recipe","string","microlensing"\n'
        '3,"similarity","recipe","string","asteroids"\n'
    )
    return GrafinkConfig.from_dict(
        {
            "reader": {"basePath": str(tmp_path / "alerts")},
            "idManager": {"dataPath": str(tmp_path / "ids"), "reservedIdSpace": 7},
            "edgeLoader": {
                "rulesToApply": [
                    "similarityClassifier",
                    "sameValueClassifier",
                    "twoModeClassifier",
                ],
                "similarityClassifer": {"similarityExp": "rfscore OR objectId"},
                "sameValueClassifier": {"colsToConnect": ["objectId"]},
                "twoModeClassifier": {
                    "recipes": ["supernova", "microlensing", "asteroids"]
                },
            },
            "fixedVertices": {"path": str(fixed)},
            "graph": {"storagePath": str(tmp_path / "graph"), "vertexLabel": "alert"},
        }
    )


def _night(day, tag):
    """Alerts for one night that give every rule edges: a repeated
    objectId with two high rfscores, a microlensing alert, an asteroid."""
    rows = [
        alert(0, f"obj{tag}", 0.95, 0.2, 0, 0.5, "WD*", None, None),
        alert(0, f"obj{tag}", 0.99, 0.2, 0, 0.5, "AGN", "ML", "ML"),
        alert(0, "objSame", 0.30, 0.2, 3, 0.5, "AGN", None, None),
    ]
    for r in rows:
        r["day"] = day
    return rows


def test_night_job_budget(spark, tmp_path):
    """A night after the first runs at most 18 Spark jobs for all three
    rules: the read, id assignment and append, the vertex write, the
    hot-key probes and one edge write. Counted with a job group around
    ``Job.process``."""
    base = str(tmp_path / "alerts")
    job = Job(spark, _three_rule_config(tmp_path))
    _write_day(spark, base, _night(1, "a"))
    job.process(date(2019, 2, 1), 1)
    _write_day(spark, base, _night(2, "b"))
    result, jobs = jobs_submitted(spark, lambda: job.process(date(2019, 2, 2), 1))
    assert all(result.edge_counts[label] > 0 for label in ("similarity", "exactmatch", "satr"))
    assert jobs <= 18, jobs


def test_night_without_edges_writes_none(spark, tmp_path):
    """A night whose rules find no edge reports 0 for every label,
    writes no edge file and does not wait on metrics that never come."""
    import os

    base = str(tmp_path / "alerts")
    _write_day(
        spark,
        base,
        [
            alert(0, "obj1", 0.10, 0.2, 0, 0.5, "WD*", None, None),
            alert(0, "obj2", 0.20, 0.2, 0, 0.5, "AGN", None, None),
        ],
    )
    job = Job(spark, _config(tmp_path))
    result = job.process(date(2019, 2, 1), 1)
    assert result.vertices_loaded == 2
    assert result.edge_counts == {"similarity": 0, "exactmatch": 0}
    edge_files = [
        f
        for _, _, fs in os.walk(job.store.edge_path)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert edge_files == []
    assert job.store.edges().count() == 0
