"""Scale-stress workloads — the SCALE.md experiments as repeatable
bench entries (VERDICT r1 #6), so regressions in the scale story are
measured per round instead of narrated.

Built from ``spark.range`` with deterministic hash-derived columns (no
testdata dependency, no RNG):

- ``similarity_50m`` — the flagship similarity classifier materializing
  ~50M edges through the DNF-decomposed join (the reference's published
  comparable: 128M edges in 47 min at 100 cores, HBase-commit-bound).
- ``similarity_skew`` / ``skew_clique`` — the similarity join and the
  same-value clique join with one pathological hot key (~800M pairs
  from a single group at scale=1); they exercise the rules' hot-key
  probe and salted join.
- ``ann_*`` and ``pagerank_*`` — the vector-search and PageRank pairs
  documented on their builders below.

Row counts scale with ``SPARK_GRAFT_STRESS_SCALE`` (default 1.0);
``SPARK_GRAFT_STRESS=0`` skips the section entirely (bench.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grafink_spark.rules.samevalue import SameValueClassifier
from grafink_spark.rules.similarity import SimilarityClassifier


def synthetic_alerts(
    spark: SparkSession, n_rows: int, n_keys: int, hot_frac: float = 0.0
) -> DataFrame:
    """Alert-shaped rows ``(id, objectId)``: ``objectId`` uniform over
    ``n_keys`` values. With ``hot_frac`` > 0 the first
    ``n_rows*hot_frac`` rows share ONE objectId (worst-case key skew)."""
    base = spark.range(n_rows)
    uniform_key = F.concat(F.lit("k"), F.col("id") % n_keys)
    key = (
        F.when(F.col("id") < int(n_rows * hot_frac), F.lit("HOT")).otherwise(
            uniform_key
        )
        if hot_frac > 0
        else uniform_key
    )
    return base.select(F.col("id"), key.alias("objectId"))


def similarity_50m(spark: SparkSession, scale: float = 1.0) -> DataFrame:
    """~50M similarity edges at scale=1: 1M rows, 10k objectIds →
    10k groups of ~100 → C(100,2)·10k ≈ 49.5M equality pairs."""
    n = int(1_000_000 * scale)
    rows = synthetic_alerts(spark, n, n_keys=max(1, n // 100))
    rule = SimilarityClassifier("objectId")
    empty = rows.limit(0)
    return rule.classify(empty, rows)


def similarity_skew(spark: SparkSession, scale: float = 1.0) -> DataFrame:
    """Flagship similarity join under worst-case key skew: one objectId
    holding 2% of all rows (40k members at scale=1 → ~800M of the pairs
    come from that single hash-join key). Exercises the equality-branch
    hot-key salting in SimilarityClassifier."""
    n = int(2_000_000 * scale)
    rows = synthetic_alerts(spark, n, n_keys=max(1, n // 10), hot_frac=0.02)
    rule = SimilarityClassifier("objectId")
    return rule.classify(rows.limit(0), rows)


def skew_clique(spark: SparkSession, scale: float = 1.0) -> DataFrame:
    """Same-value clique with one hot key: 2M rows, hot group of 40k →
    C(40k,2) ≈ 800M of the pairs come from a single key at scale=1."""
    n = int(2_000_000 * scale)
    rows = synthetic_alerts(
        spark, n, n_keys=max(1, n // 10), hot_frac=0.02
    ).select("id", F.col("objectId").alias("objkey"))
    rule = SameValueClassifier(["objkey"])
    empty = rows.limit(0)
    return rule.classify(empty, rows)


def ann_ivf_skew(spark: SparkSession, mode: str, scale: float = 1.0) -> DataFrame:
    """IVF candidate join under worst-case centroid skew: half the
    corpus collapses onto one direction (plus per-vector jitter), so
    ONE inverted list holds ~n/2 rows, and the query side is a corpus
    slice too big to broadcast (the all-pairs mining shape — the
    broadcast gate is pinned shut so the stress models that shape at
    stress-harness size). The list_id equi join then sends every hot
    pair to a single reducer unless the list is split.

    ``mode='plain'`` — no hot split: the hot list's ~queries×n/2
    cosines run in one task while 31 cores idle.
    ``mode='hot'`` — ``hot_threshold`` salts the join
    (:func:`grafink_spark.llm.simsearch._salted_list_sides`): corpus
    rows hash across ceil(|list|/threshold) sub-keys, probe rows
    replicate, every task busy. Results are identical; the timing
    ratio is the measurement."""
    from grafink_spark.llm import simsearch as ss

    n = int(8_000 * scale)
    dim = 32
    base = synthetic_embeddings(spark, n, dim)
    hot_dir = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: 1.0
        + (F.abs(F.hash(F.col("vec_id") * 17 + i)) % 100) / 10000.0,
    )
    corpus = base.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, hot_dir)
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    # enough probe rows that the candidate join dominates the shared
    # train/assign overhead — the plain/hot timing gap IS the
    # single-reducer pair scan, so the join must be the biggest stage
    queries = corpus.limit(max(64, int(2_048 * scale)))
    cents = ss.ivf_train(corpus, nlist=32, iters=1)
    conf_key = "spark.grafink.broadcastMaxBytes"
    old = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "1")
    try:
        # gate decision is made eagerly at build time, so restoring the
        # conf afterwards does not re-enable the broadcast
        return ss.ivf_topk(
            corpus,
            queries,
            cents,
            k=10,
            nprobe=2,
            hot_threshold=(256 if mode == "hot" else None),
        )
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)


def pagerank_numeric(
    spark: SparkSession, mode: str, scale: float = 1.0
) -> DataFrame:
    """Exact-decimal vs plain-double PageRank A/B over a synthetic
    4-regular directed graph (2M vertices / 8M edges at scale=1, edges
    from a multiplicative hash so the build is scan-only). Measures
    what the bit-reproducibility guarantee costs per iteration: the
    decimal path casts every addend to decimal(38,18) inside the
    per-round aggregation; the double path is the production
    ``exact=False`` swap (ranks agree to ~1 ulp)."""
    from grafink_spark.graph.algorithms import pagerank

    n = int(2_000_000 * scale)
    ids = spark.range(n).select(F.col("id").alias("src"))
    edges = None
    for k in range(4):
        e = ids.select(
            "src",
            ((F.col("src") * 2654435761 + 40503 * (k + 1)) % n).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    return pagerank(edges, iters=3, exact=(mode == "exact"))


def synthetic_embeddings(spark: SparkSession, n: int, dim: int) -> DataFrame:
    """(vec_id, embedding): hash-derived values in [0, 1) — scan-only
    build, no RNG, no testdata dependency."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (F.abs(F.hash(F.col("id") * 31 + i)) % 1000) / 1000.0,
        ).alias("embedding"),
    )


_ANN_INDEX_CACHE: dict = {}


def ann_ab(spark: SparkSession, mode: str, scale: float = 1.0) -> DataFrame:
    """Brute-cosine vs IVF-PQ A/B at 200k vectors × 32 dims × 128
    queries (scale=1), with the index lifecycle split the way
    production uses it:

    - ``ann_ivfpq_build`` — the ONE-TIME cost: train on a 1k sample,
      assign every vector to its inverted list, compress to m=4 codes,
      pin the index (the ivf_write_index shape without the disk
      round-trip). Cached per (session, n) so the scan entry below
      reuses it — exactly how a persisted index amortizes.
    - ``ann_ivfpq_200k`` — the PER-QUERY-BATCH cost over the prebuilt
      index: probes + candidate equi join on list_id + ADC lookups,
      touching ~nprobe/nlist of the pairs at m lookups each instead of
      a dim-wide dot product.
    - ``ann_brute_200k`` — every (query, vector) pair at a 32-dim dot
      product (~820M pair-dims): what every batch costs WITHOUT the
      index.

    The scan:brute ratio is the round-over-round scale number for the
    PQ family; build amortizes across batches (and to zero for a
    persisted index)."""
    from grafink_spark.llm import simsearch as ss

    n = int(200_000 * scale)
    dim = 32
    corpus = synthetic_embeddings(spark, n, dim)
    queries = synthetic_embeddings(spark, 128, dim)
    if mode == "brute":
        return ss.brute_force_topk(corpus, queries, k=10)
    # keyed by applicationId, not id(spark): id() values are reused
    # after GC, which could hand a NEW session a pinned index bound to
    # a stopped SparkContext
    app_id = spark.sparkContext.applicationId
    key = (app_id, n)
    # evict entries from other sessions/scales: a stopped session's
    # pinned index blocks are useless but the DataFrame refs would keep
    # driver-side plan state alive for the process lifetime (bench runs
    # many sessions back-to-back) — single-live-entry cache. An evicted
    # entry whose applicationId matches the LIVE session (same session,
    # different scale) still holds executor storage — drop its blocks,
    # not just the dict ref (round-7 advisor); for stopped sessions the
    # blocks died with the executors and unpersist would just throw.
    for stale in [k for k in _ANN_INDEX_CACHE if k != key]:
        if stale[0] == app_id:
            try:
                _ANN_INDEX_CACHE[stale][2].unpersist()
            except Exception:
                pass
        del _ANN_INDEX_CACHE[stale]
    if key not in _ANN_INDEX_CACHE:
        sample = corpus.limit(1024)
        cents = ss.ivf_train(sample, nlist=16, iters=1)
        cbs = ss.pq_train(sample, dim=dim, m=4, ksub=16, iters=1)
        # persist + eager count instead of pin(): same one-shot
        # materialization and reuse, but persist() registers with the
        # CacheManager so the same-session eviction above can actually
        # free the blocks (a localCheckpoint's blocks have no public
        # unpersist path). Nothing downstream needs a frozen layout —
        # the scan is a plain list_id join over the encoded frame.
        encoded = ss.ivfpq_encode(corpus, cents, cbs).persist()
        encoded.count()
        _ANN_INDEX_CACHE[key] = (cents, cbs, encoded)
    cents, cbs, encoded = _ANN_INDEX_CACHE[key]
    if mode == "build":
        return encoded
    return ss.ivfpq_topk(
        corpus, queries, cents, cbs, k=10, nprobe=2, encoded=encoded
    )


STRESS = {
    "similarity_50m": similarity_50m,
    "ann_brute_200k": lambda spark, s=1.0: ann_ab(spark, "brute", s),
    "ann_ivfpq_build": lambda spark, s=1.0: ann_ab(spark, "build", s),
    "ann_ivfpq_200k": lambda spark, s=1.0: ann_ab(spark, "ivfpq", s),
    "similarity_skew": similarity_skew,
    "skew_clique": skew_clique,
    "ann_ivf_skew_plain": lambda spark, s=1.0: ann_ivf_skew(spark, "plain", s),
    "ann_ivf_skew_hot": lambda spark, s=1.0: ann_ivf_skew(spark, "hot", s),
    "pagerank_exact": lambda spark, s=1.0: pagerank_numeric(
        spark, "exact", s
    ),
    "pagerank_double": lambda spark, s=1.0: pagerank_numeric(
        spark, "double", s
    ),
}
