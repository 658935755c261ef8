"""Distributed PCA: exact-decimal covariance + power iteration."""

import math

import pytest
from pyspark.sql import functions as F


def test_covariance_matrix_exact(spark):
    from grafink_spark.llm.pca import covariance_matrix

    # rows (1,2), (3,6), (5,10): dim1 = 2*dim0 exactly
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 6.0]), (2, [5.0, 10.0])],
        "vec_id long, embedding array<float>",
    )
    c = {(r.i, r.j): r.c for r in covariance_matrix(emb).collect()}
    # var(x) = ((1-3)^2 + 0 + (5-3)^2)/3 = 8/3
    assert abs(c[(0, 0)] - 8.0 / 3.0) < 1e-12
    assert abs(c[(1, 1)] - 32.0 / 3.0) < 1e-12
    assert abs(c[(0, 1)] - 16.0 / 3.0) < 1e-12
    assert c[(0, 1)] == c[(1, 0)]


def test_embedding_pca_recovers_dominant_direction(spark):
    from grafink_spark.llm.pca import embedding_pca

    # y = 2x exactly → PC1 direction (1,2)/sqrt(5), var_ratio = 1
    emb = spark.createDataFrame(
        [(i, [float(i), 2.0 * i]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    rows = {r.i: r for r in embedding_pca(emb, iters=8).collect()}
    v = [rows[0].loading, rows[1].loading]
    expect = [1.0 / math.sqrt(5), 2.0 / math.sqrt(5)]
    s = 1.0 if v[0] * expect[0] > 0 else -1.0
    assert abs(v[0] - s * expect[0]) < 1e-9
    assert abs(v[1] - s * expect[1]) < 1e-9
    assert abs(rows[0].var_ratio - 1.0) < 1e-9


def test_pca_partition_invariant(spark):
    """The decimal covariance makes the result independent of
    partitioning — same bits at 1 and 13 partitions."""
    from grafink_spark.llm.pca import covariance_matrix

    import random

    rnd = random.Random(3)
    data = [(i, [rnd.uniform(-1, 1) for _ in range(4)]) for i in range(200)]
    emb1 = spark.createDataFrame(data, "vec_id long, embedding array<float>").coalesce(1)
    emb13 = spark.createDataFrame(data, "vec_id long, embedding array<float>").repartition(13)
    c1 = sorted((r.i, r.j, r.c) for r in covariance_matrix(emb1).collect())
    c13 = sorted((r.i, r.j, r.c) for r in covariance_matrix(emb13).collect())
    assert c1 == c13  # bitwise, not approximate


def test_pca_components_orthogonal_and_ordered(spark):
    import random

    from grafink_spark.llm.pca import pca_components

    rnd = random.Random(11)
    # anisotropic cloud: dim0 spread 10x dim1, dim2 noise
    data = [
        (i, [10.0 * rnd.gauss(0, 1), rnd.gauss(0, 1), 0.1 * rnd.gauss(0, 1)])
        for i in range(300)
    ]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    rows = pca_components(emb, k=2, iters=10).collect()
    c1 = {r.i: r.loading for r in rows if r.component == 1}
    c2 = {r.i: r.loading for r in rows if r.component == 2}
    l1 = {r.component: r.eigenvalue for r in rows}[1]
    l2 = {r.component: r.eigenvalue for r in rows}[2]
    # eigenvalues descend; components near-orthonormal
    assert l1 > l2 > 0
    dot = sum(c1[i] * c2[i] for i in range(3))
    n1 = sum(v * v for v in c1.values())
    assert abs(dot) < 1e-6
    assert abs(n1 - 1.0) < 1e-9
    # dominant direction is dim0, second is dim1
    assert abs(c1[0]) > 0.99
    assert abs(c2[1]) > 0.99


def test_arrow_covariance_agrees_with_exact(spark):
    import random

    from grafink_spark.llm.pca import covariance_matrix, covariance_matrix_arrow

    rnd = random.Random(5)
    data = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(500)]
    emb = spark.createDataFrame(
        data, "vec_id long, embedding array<float>"
    ).repartition(7)
    exact = {(r.i, r.j): r.c for r in covariance_matrix(emb).collect()}
    arrow = {(r.i, r.j): r.c for r in covariance_matrix_arrow(emb).collect()}
    assert set(exact) == set(arrow)
    assert max(abs(exact[k] - arrow[k]) for k in exact) < 1e-12


def test_covariance_ignores_null_and_empty_vectors(spark):
    """Rows whose vector is NULL or empty never reach the sums, so n
    must not count them either — otherwise every covariance cell and
    mean deflates by the bad-row fraction. The arrow path skips them
    the same way (np.stack used to fail on them)."""
    from grafink_spark.llm.pca import covariance_matrix, covariance_matrix_arrow

    good = [(i, [float(i % 3), 1.0]) for i in range(30)]
    dirty = good + [(100, None), (101, [])]
    c_good = {(r.i, r.j): r.c for r in covariance_matrix(
        spark.createDataFrame(good, "vec_id long, embedding array<float>")
    ).collect()}
    c_dirty = {(r.i, r.j): r.c for r in covariance_matrix(
        spark.createDataFrame(dirty, "vec_id long, embedding array<float>")
    ).collect()}
    assert c_good == c_dirty
    a_good = {(r.i, r.j): r.c for r in covariance_matrix_arrow(
        spark.createDataFrame(good, "vec_id long, embedding array<float>").coalesce(1)
    ).collect()}
    a_dirty = {(r.i, r.j): r.c for r in covariance_matrix_arrow(
        spark.createDataFrame(dirty, "vec_id long, embedding array<float>").coalesce(1)
    ).collect()}
    assert set(a_good) == set(a_dirty) == set(c_good)
    assert max(abs(a_good[k] - a_dirty[k]) for k in a_good) < 1e-12
    assert max(abs(a_good[k] - c_good[k]) for k in a_good) < 1e-12


def test_ragged_vectors_raise(spark):
    """Vectors of different lengths have no covariance matrix: the
    length markers in the sums make the merge refuse them."""
    from grafink_spark.llm.pca import embedding_pca

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 6.0, 1.0]), (2, [5.0, 10.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="differ in length"):
        embedding_pca(emb)


def _random_embeddings(spark, n=300, d=6, seed=7):
    import random

    rnd = random.Random(seed)
    data = [(i, [rnd.uniform(-1, 1) for _ in range(d)]) for i in range(n)]
    return spark.createDataFrame(data, "vec_id long, embedding array<float>")


def test_embedding_pca_partition_invariant(spark):
    """Loadings, eigenvalue and variance share: same bits at 1 and 13
    partitions."""
    from grafink_spark.llm.pca import embedding_pca

    emb = _random_embeddings(spark)
    one = sorted(embedding_pca(emb.coalesce(1)).collect())
    thirteen = sorted(embedding_pca(emb.repartition(13)).collect())
    assert one == thirteen  # bitwise, not approximate


def test_incremental_pca_equals_full_pass(spark):
    """Merged batch sums give the full-pass model bit for bit."""
    from grafink_spark.llm.pca import (
        covariance_from_partials,
        covariance_sums,
        embedding_pca,
        power_iteration,
    )

    emb = _random_embeddings(spark)
    parts = [
        covariance_sums(emb.where(F.col("vec_id") % 3 == r)) for r in range(3)
    ]
    merged = power_iteration(spark, covariance_from_partials(parts))
    assert sorted(merged.collect()) == sorted(embedding_pca(emb).collect())


def test_embedding_pca_job_budget(spark):
    """Build plus collect submits at most 4 Spark jobs: the input
    shuffle, the aggregate's map and result stages, and the literal
    output frame (a power iteration run as Spark joins took 46)."""
    import uuid

    from grafink_spark.llm.pca import embedding_pca

    emb = _random_embeddings(spark, d=64).repartition(4)
    sc = spark.sparkContext
    group = f"pca-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = embedding_pca(emb).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts land async
    assert len(rows) == 64
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 4, jobs
