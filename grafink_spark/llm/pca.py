"""Distributed PCA over an embedding column — one exact aggregation in
Spark, then the power iteration on the driver, bit-reproducible across
engines.

1. **Covariance sums.** Each row contributes x_i·x_j for every (i, j)
   dimension pair; summing doubles is partition-order dependent, so
   the per-pair contributions are cast to DECIMAL(30,15) and summed
   EXACTLY (decimal addition is associative/commutative — any
   partitioning, any engine, same result). The cast itself is
   deterministic: a binary double can never land exactly on a
   half-ulp of a scale-15 decimal (5·10⁻¹⁶ is not dyadic), so
   round-half-up vs round-half-even can never disagree. The same
   aggregate carries the linear sums, the row count and two vector
   length markers (see :func:`covariance_sums`).
2. **Driver.** One ``collect()`` brings back at most
   d(d+1)/2 + d + 3 rows: the upper triangle, the d linear sums and
   the three markers. The covariance matrix is built from them with
   the same IEEE operations the SQL oracle runs (decimal→double casts
   are correctly rounded on both sides), and the power iteration, the
   Rayleigh quotient and the Hotelling deflation run on that d×d
   matrix in plain Python. Every dot product is a sequential left fold
   from +0.0 in ascending index order — the oracle's
   ``list_reduce(list(... ORDER BY j))`` — followed by one ``sqrt`` and
   one division per entry, so the loadings are bit-identical to the
   oracle's replay. (``sum()``, ``math.fsum`` and ``np.dot`` would
   reorder or compensate the additions.)
3. **Output.** Results come back as literals over ``spark.range`` —
   no Python worker, no extra aggregation.

An ``embedding_pca`` build plus its collect submits three Spark jobs
(the aggregate's map and result stages, and the literal frame) plus
one per shuffle upstream in the caller's input.

Scale design (100 TB): the d² explode is narrow (no join — nested
array transforms generate the pairs row-locally) and the groupBy(i, j)
partial-aggregates map-side, so the shuffle carries d² × #partitions
partial sums regardless of corpus size. For d in the thousands, swap
the explode for the mapInPandas partial-covariance kernel
(:func:`covariance_matrix_arrow`) — at d=64 the expression form keeps
everything, including the oracle, in plain SQL.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEC = "decimal(30,15)"


def _non_empty(vec_col: str):
    """Rows that contribute: NULL and empty vectors carry no data."""
    return F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)


def _pick(values: list[float], idx) -> object:
    """``values[idx]`` as a Spark expression over a literal array."""
    return F.array(*[F.lit(x) for x in values])[idx]


def _div_mod(d: int) -> tuple:
    """(id DIV d, id % d) as int columns of a ``spark.range`` frame."""
    return F.expr(f"CAST(id DIV {d} AS INT)"), F.expr(f"CAST(id % {d} AS INT)")


def covariance_sums(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, j, s) exact DECIMAL sums for one batch — the mergeable form
    of the covariance. One narrow explode over the non-null, non-empty
    vectors and one groupBy(i, j) with a map-side partial. Keys:

    - ``0 <= i <= j``: Σ x_i·x_j (upper triangle only — the mirrored
      cell's product x_j·x_i is the SAME double, so mirroring after the
      merge is bit-identical and halves the explode);
    - ``(i, -1)``: Σ x_i;
    - ``(-1, -1)``: the row count n;
    - ``(-1, -2)`` and ``(-2, -2)``: Σ size and Σ size², which let the
      merge reject vectors of different lengths.

    Because decimal addition is exact and associative, sums from any
    batch split merge into EXACTLY the full-pass covariance (bit-for-
    bit — `incremental_pca` is checked against the full-pass oracle),
    which is what makes daily incremental model maintenance equal to
    retraining."""
    idx = F.transform(
        F.col(vec_col),
        lambda x, i: F.struct(i.alias("i"), x.cast("double").alias("x")),
    )

    def cell(i, j, s):
        return F.struct(i.alias("i"), j.alias("j"), s.cast(DEC).alias("s"))

    pairs = F.flatten(
        F.transform(
            idx,
            lambda a: F.transform(
                F.filter(idx, lambda b: b["i"] >= a["i"]),
                lambda b: cell(a["i"], b["i"], a["x"] * b["x"]),
            ),
        )
    )
    linear = F.transform(idx, lambda a: cell(a["i"], F.lit(-1), a["x"]))
    size = F.size(F.col(vec_col)).cast("long")
    markers = F.array(
        cell(F.lit(-1), F.lit(-1), F.lit(1)),
        cell(F.lit(-1), F.lit(-2), size),
        cell(F.lit(-2), F.lit(-2), size * size),
    )
    return (
        emb.where(_non_empty(vec_col))
        .select(F.explode(F.concat(pairs, linear, markers)).alias("p"))
        .select("p.i", "p.j", "p.s")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )


def covariance_from_partials(parts: list[DataFrame]) -> list[list[float]]:
    """Population covariance (a d×d list of rows) from batch sums:
    union + one decimal re-sum + ONE collect of at most
    d(d+1)/2 + d + 3 rows — batch-cost maintenance with a
    full-retrain-exact result. Raises ``ValueError`` when no row has a
    vector or when the vectors differ in length (Σsize²·n ≠ (Σsize)²
    unless every size is equal)."""
    merged = reduce(DataFrame.unionByName, parts)
    rows = merged.groupBy("i", "j").agg(F.sum("s").alias("s")).collect()
    sums = {(r.i, r.j): r.s for r in rows}
    n = int(sums.get((-1, -1), 0))
    if n == 0:
        raise ValueError("PCA needs at least one non-empty vector")
    size, size2 = int(sums[(-1, -2)]), int(sums[(-2, -2)])
    if size2 * n != size * size:
        raise ValueError("embedding vectors differ in length")
    d, nf = size // n, float(n)
    mu = [float(sums[(i, -1)]) / nf for i in range(d)]
    c = [[0.0] * d for _ in range(d)]
    for i in range(d):
        for j in range(i, d):
            c[i][j] = c[j][i] = float(sums[(i, j)]) / nf - mu[i] * mu[j]
    return c


def covariance_matrix(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, j, c): population covariance of the vector dimensions,
    accumulated in exact decimal arithmetic — the collected matrix of
    :func:`covariance_from_partials` as a literal frame."""
    c = covariance_from_partials([covariance_sums(emb, vec_col)])
    d = len(c)
    i, j = _div_mod(d)
    return emb.sparkSession.range(d * d).select(
        i.alias("i"),
        j.alias("j"),
        _pick([x for row in c for x in row], F.col("id")).alias("c"),
    )


def _fold(terms) -> float:
    """Left fold from +0.0 in the given order (the oracle's list_reduce)."""
    acc = 0.0
    for t in terms:
        acc += t
    return acc


def _matvec(c: list[list[float]], v: list[float]) -> list[float]:
    return [_fold([cij * vj for cij, vj in zip(row, v)]) for row in c]


def _power(c: list[list[float]], iters: int) -> tuple[list[float], float]:
    """(v, lam): dominant unit eigenvector after ``iters`` rounds from
    the uniform unit vector, and its Rayleigh-quotient eigenvalue."""
    d = len(c)
    v = [1.0 / float(d) ** 0.5] * d
    for _ in range(iters):
        w = _matvec(c, v)
        nm = math.sqrt(_fold([x * x for x in w]))
        v = [x / nm for x in w]
    lam = _fold([a * b for a, b in zip(_matvec(c, v), v)])
    return v, lam


def _components(
    spark: SparkSession, c: list[list[float]], k: int, iters: int
) -> DataFrame:
    """(component, i, loading, eigenvalue, var_ratio): top-k
    eigenpairs by Hotelling deflation — after each dominant (v, λ),
    iterate on C' = C − λ·v·vᵀ, whose dominant direction is the next
    component. var_ratio is λ over the trace of the undeflated C."""
    d = len(c)
    tr = _fold([c[i][i] for i in range(d)])
    loadings, lams = [], []
    for m in range(k):
        v, lam = _power(c, iters)
        loadings += v
        lams.append(lam)
        if m + 1 < k:
            c = [[c[i][j] - lam * v[i] * v[j] for j in range(d)] for i in range(d)]
    comp, i = _div_mod(d)
    return spark.range(k * d).select(
        (comp + 1).alias("component"),
        i.alias("i"),
        _pick(loadings, F.col("id")).alias("loading"),
        _pick(lams, comp).alias("eigenvalue"),
        _pick([lam / tr for lam in lams], comp).alias("var_ratio"),
    )


def power_iteration(
    spark: SparkSession, cov: list[list[float]], iters: int = 8
) -> DataFrame:
    """(i, loading, eigenvalue, var_ratio): dominant eigenvector of the
    driver-side covariance ``cov`` after ``iters`` power-iteration
    rounds from the uniform unit vector, plus the Rayleigh-quotient
    eigenvalue and its share of total variance."""
    return _components(spark, cov, 1, iters).drop("component")


def pca_components(
    emb: DataFrame, k: int = 2, vec_col: str = "embedding", iters: int = 8
) -> DataFrame:
    """Top-k principal components by Hotelling deflation; every dot
    product keeps the sorted fold, so the whole decomposition replays
    bit-for-bit in SQL.
    Output: (component, i, loading, eigenvalue, var_ratio)."""
    c = covariance_from_partials([covariance_sums(emb, vec_col)])
    return _components(emb.sparkSession, c, k, iters)


def embedding_pca(
    emb: DataFrame, vec_col: str = "embedding", iters: int = 8
) -> DataFrame:
    """Top principal component of the embedding corpus: exact-decimal
    covariance + driver-side power iteration. Output: one row per
    dimension (i, loading, eigenvalue, var_ratio)."""
    c = covariance_from_partials([covariance_sums(emb, vec_col)])
    return power_iteration(emb.sparkSession, c, iters)


def covariance_matrix_arrow(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(i, j, c): the large-dimension covariance path — per-partition
    d×d float64 partials via an Arrow ``mapInPandas`` kernel (one
    matrix multiply per batch), then an element-wise sum of the
    partition partials. This is the mode the expression form's
    docstring points large ``d`` at: the d² row explode is replaced by
    #partitions × d² partial cells, and the per-batch work is a BLAS
    ``X.T @ X``. NULL and empty vectors are skipped, as in the exact
    path; n and d come from the partials, so nothing runs eagerly.

    Trade-off vs :func:`covariance_matrix`: float64 partials make the
    result partition-order dependent in the last ulps (no exact
    decimal), so the SQL-oracle bit-equality contract does NOT hold —
    use the expression form when cross-engine reproducibility matters
    and this form when d² × rows explode cost dominates (d ≳ 512).
    Numerically the two agree to ~1e-12 relative (pinned in tests).
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        acc = sx = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if acc is None:
                acc = np.zeros((x.shape[1], x.shape[1]), dtype=np.float64)
                sx = np.zeros(x.shape[1], dtype=np.float64)
            acc += x.T @ x
            sx += x.sum(axis=0)
            n += len(x)
        if acc is None:
            return
        d = len(sx)
        ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        yield pd.DataFrame(
            {
                "i": ii.ravel().astype("int32"),
                "j": jj.ravel().astype("int32"),
                "sxx": acc.ravel(),
                # the mean partial and the row count ride along as their
                # own columns (d² rows per partition, small anyway)
                "sx_i": np.repeat(sx, d),
                "n": np.full(d * d, n, dtype="int64"),
            }
        )

    p = (
        emb.where(_non_empty(vec_col))
        .select(vec_col)
        .mapInPandas(partials, "i int, j int, sxx double, sx_i double, n long")
    )
    sums = p.groupBy("i", "j").agg(
        F.sum("sxx").alias("sxx"),
        # sx_i and n are replicated d× per partition partial; every
        # (i, j) row of one partial carries the same values, so summing
        # over partials at fixed (i, j) counts each partition once
        F.sum("sx_i").alias("sx_i"),
        F.sum("n").cast("double").alias("n"),
    )
    mu = sums.where(F.col("i") == F.col("j")).select(
        "i", (F.col("sx_i") / F.col("n")).alias("mu")
    )
    return (
        sums.join(mu.select("i", F.col("mu").alias("_mi")), "i")
        .join(mu.select(F.col("i").alias("j"), F.col("mu").alias("_mj")), "j")
        .select(
            "i",
            "j",
            (F.col("sxx") / F.col("n") - F.col("_mi") * F.col("_mj")).alias("c"),
        )
    )
