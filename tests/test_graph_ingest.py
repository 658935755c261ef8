"""Streaming graph ingest: incremental microbatches behave exactly like
sequential daily batch runs — consecutive ids across batches, new×old
edges to previously loaded vertices."""

import json
import logging
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from grafink_spark.config import IDManagerConfig
from grafink_spark.graph.storage import GraphStore
from grafink_spark.id_manager import IDManager
from grafink_spark.rules.samevalue import SameValueClassifier
from grafink_spark.streaming.graph_ingest import stream_to_graph
from tests.conftest import jobs_submitted, persisted_rdds

SCHEMA = T.StructType(
    [
        T.StructField("objectId", T.StringType()),
        T.StructField("rfscore", T.DoubleType()),
    ]
)


def _write_batch(spark, src_dir, rows, name):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)


def test_streaming_ingest_matches_batch_semantics(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_batch(spark, src, [("objA", 0.95), ("objB", 0.5)], "b1")

    idm = IDManager(
        spark, IDManagerConfig(dataPath=str(tmp_path / "ids"), reservedIdSpace=10)
    )
    store = GraphStore(spark, str(tmp_path / "graph"))
    rules = [SameValueClassifier(["objectId"])]

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        stream_to_graph(
            stream, idm, store, rules, str(tmp_path / "ckpt"), available_now=True
        )

    run()
    v1 = store.vertices()
    assert sorted(r.id for r in v1.select("id").collect()) == [11, 12]
    assert store.edges().count() == 0  # distinct objectIds, no pairs

    # second microbatch: one repeat objectId, one new → ids continue at 13,
    # and the repeat links to the batch-1 vertex (new×old)
    _write_batch(spark, src, [("objA", 0.7), ("objC", 0.2)], "b2")
    run()
    ids = sorted(r.id for r in store.vertices().select("id").collect())
    assert ids == [11, 12, 13, 14]

    objA_ids = sorted(
        r.id for r in store.vertices().where(F.col("objectId") == "objA").collect()
    )
    assert len(objA_ids) == 2
    edges = {
        (r.src, r.dst)
        for r in store.edges().where(F.col("label") == "exactmatch").collect()
    }
    # both directions of the objA new×old pair
    a, b = objA_ids
    assert edges == {(a, b), (b, a)}

    # third run with no new files: no-op, nothing double-ingested
    run()
    assert store.vertices().count() == 4


def _setup(spark, tmp_path):
    idm = IDManager(
        spark, IDManagerConfig(dataPath=str(tmp_path / "ids"), reservedIdSpace=10)
    )
    store = GraphStore(spark, str(tmp_path / "graph"))
    rules = [SameValueClassifier(["objectId"])]
    return idm, store, rules


def test_replay_of_committed_batch_is_skipped(spark, tmp_path, caplog):
    """Exactly-once case 1: batch crashed AFTER commit marker but before
    the streaming checkpoint advanced → the replay must be a no-op, and
    only the committed run logs its phase record."""
    from grafink_spark.streaming.graph_ingest import ingest_batch

    logger = "grafink_spark.streaming.graph_ingest"
    caplog.set_level(logging.INFO, logger=logger)

    def logged():
        return [json.loads(r.getMessage()) for r in caplog.records if r.name == logger]

    idm, store, rules = _setup(spark, tmp_path)
    batch = spark.createDataFrame([("objA", 0.9), ("objA", 0.8)], SCHEMA)
    ingest_batch(batch, 0, idm, store, rules)
    (rec,) = logged()
    assert rec["event"] == "ingest_batch" and rec["batch_id"] == 0
    assert rec["ids_assigned"] == 2
    assert rec["edge_rows"] == {"exactmatch": 2}
    v = sorted(r.id for r in store.vertices().select("id").collect())
    e = store.edges().count()
    assert v == [11, 12] and e == 2  # objA pair, both directions

    caplog.clear()
    ingest_batch(batch, 0, idm, store, rules)  # full replay
    assert logged() == []
    assert sorted(r.id for r in store.vertices().select("id").collect()) == v
    assert store.edges().count() == e
    # and the id store did not double-append either
    assert idm.read_all(batch.schema).count() == 2


def test_replay_of_half_written_batch_purges_then_reruns(spark, tmp_path):
    """Exactly-once case 2: batch crashed MID-append (vertices written,
    edges not, no commit marker) → replay purges the partial rows and
    re-runs; final state identical to a clean single run, same ids."""
    from grafink_spark.streaming.graph_ingest import ingest_batch

    idm, store, rules = _setup(spark, tmp_path)
    b0 = spark.createDataFrame([("objA", 0.9)], SCHEMA)
    ingest_batch(b0, 0, idm, store, rules)  # committed predecessor

    b1 = spark.createDataFrame([("objA", 0.7), ("objB", 0.2)], SCHEMA)
    real_write_edge_sets = GraphStore.write_edge_sets
    calls = {"n": 0}

    def crashing_write_edge_sets(self, sets, tags=None):
        calls["n"] += 1
        raise RuntimeError("simulated executor loss mid-batch")

    GraphStore.write_edge_sets = crashing_write_edge_sets
    try:
        try:
            ingest_batch(b1, 1, idm, store, rules)
            raise AssertionError("expected simulated crash")
        except RuntimeError:
            pass
    finally:
        GraphStore.write_edge_sets = real_write_edge_sets
    assert calls["n"] == 1
    # partial state on disk: batch-1 vertices+ids appended, no edges
    assert store.vertices().count() == 3
    assert store.edges().count() == 0

    ingest_batch(b1, 1, idm, store, rules)  # replay after crash
    ids = sorted(r.id for r in store.vertices().select("id").collect())
    assert ids == [11, 12, 13]  # same ids a clean run would assign
    edges = {
        (r.src, r.dst) for r in store.edges().collect()
    }
    objA = {
        r.id
        for r in store.vertices().where(F.col("objectId") == "objA").collect()
    }
    a, b = sorted(objA)
    assert edges == {(a, b), (b, a)}
    # replaying the now-committed batch again is still a no-op
    ingest_batch(b1, 1, idm, store, rules)
    assert store.vertices().count() == 3
    assert store.edges().count() == 2


def test_corrupt_id_store_raises_instead_of_restarting_ids(spark, tmp_path):
    """A corrupt (unreadable, but existing) id store must fail with the
    taxonomy's GetIdException (exit 3), not silently restart ids at
    reservedIdSpace (VERDICT r1 item 3)."""
    import pytest

    from grafink_spark.errors import GetIdException, exit_code_for

    store_dir = tmp_path / "ids"
    store_dir.mkdir()
    (store_dir / "part-00000.parquet").write_bytes(b"this is not parquet")
    idm = IDManager(
        spark, IDManagerConfig(dataPath=str(store_dir), reservedIdSpace=10)
    )
    batch = spark.createDataFrame([("objA", 0.9)], SCHEMA)
    with pytest.raises(GetIdException) as ei:
        idm.process(batch)
    assert exit_code_for(ei.value) == 3

    # an existing-but-EMPTY dir is still a valid fresh store
    empty_dir = tmp_path / "ids_empty"
    empty_dir.mkdir()
    idm2 = IDManager(
        spark, IDManagerConfig(dataPath=str(empty_dir), reservedIdSpace=10)
    )
    loaded = idm2.read_all(batch.schema)
    assert loaded.count() == 0 and "id" in loaded.columns


def test_microbatches_leave_no_cached_batch(spark, tmp_path):
    from grafink_spark.streaming.graph_ingest import ingest_batch

    idm, store, rules = _setup(spark, tmp_path)
    before = persisted_rdds(spark)
    ingest_batch(spark.createDataFrame([("objA", 0.9)], SCHEMA), 0, idm, store, rules)
    ingest_batch(spark.createDataFrame([("objA", 0.7)], SCHEMA), 1, idm, store, rules)
    assert store.edges().count() == 2
    assert persisted_rdds(spark) - before == set()


def test_microbatch_job_budget(spark, tmp_path, caplog):
    """A microbatch after the first stays inside the nightly budget of
    18 Spark jobs: the same load as ``Job.process`` plus the exactly-once
    bookkeeping (empty check, purge probe, commit marker)."""
    from grafink_spark.rules.similarity import SimilarityClassifier
    from grafink_spark.streaming.graph_ingest import ingest_batch

    logger = "grafink_spark.streaming.graph_ingest"
    caplog.set_level(logging.INFO, logger=logger)
    idm, store, _ = _setup(spark, tmp_path)
    rules = [SimilarityClassifier("rfscore OR objectId"), SameValueClassifier(["objectId"])]
    ingest_batch(
        spark.createDataFrame([("objA", 0.95), ("objB", 0.5)], SCHEMA), 0, idm, store, rules
    )
    batch = spark.createDataFrame([("objA", 0.97), ("objC", 0.2)], SCHEMA)
    _, jobs = jobs_submitted(spark, lambda: ingest_batch(batch, 1, idm, store, rules))
    rec = json.loads(caplog.records[-1].getMessage())
    assert rec["batch_id"] == 1
    assert rec["edge_rows"] == {"similarity": 2, "exactmatch": 2}
    assert jobs <= 18, jobs


def test_microbatch_without_edges_writes_none(spark, tmp_path, caplog):
    """A microbatch whose rules find no edge logs 0 for every label,
    writes no edge file and commits."""
    from grafink_spark.streaming.graph_ingest import ingest_batch

    logger = "grafink_spark.streaming.graph_ingest"
    caplog.set_level(logging.INFO, logger=logger)
    idm, store, rules = _setup(spark, tmp_path)
    ingest_batch(spark.createDataFrame([("objA", 0.9), ("objB", 0.8)], SCHEMA), 0, idm, store, rules)
    ingest_batch(spark.createDataFrame([("objC", 0.9)], SCHEMA), 1, idm, store, rules)
    recs = [json.loads(r.getMessage()) for r in caplog.records if r.name == logger]
    assert [r["edge_rows"] for r in recs] == [{"exactmatch": 0}, {"exactmatch": 0}]
    assert not any(
        f.endswith(".parquet") for _, _, fs in os.walk(store.edge_path) for f in fs
    )
    assert store.edges().count() == 0
    assert sorted(r.id for r in store.vertices().select("id").collect()) == [11, 12, 13]
