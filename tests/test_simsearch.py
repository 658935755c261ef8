"""Similarity search: brute-force exactness + LSH recall on real embeddings."""

import pytest
from pyspark.sql import functions as F

from grafink_spark.llm import simsearch as ss


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_brute_force_topk_shape_and_order(spark, emb):
    queries = emb.orderBy("vec_id").limit(3)
    out = ss.brute_force_topk(emb, queries, k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        sims = [r.cosine_sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_brute_force_matches_python_reference(spark, emb):
    import math

    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    qid = min(vecs)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    expected = sorted(
        ((cos(vecs[qid], v), i) for i, v in vecs.items() if i != qid),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    queries = emb.where(F.col("vec_id") == qid)
    got = ss.brute_force_topk(emb, queries, k=5).orderBy("rank").collect()
    assert [r.neighbor_id for r in got] == [i for _, i in expected]
    for r, (sim, _) in zip(got, expected):
        assert abs(r.cosine_sim - sim) < 1e-9


def test_lsh_topk_recall(spark, emb):
    queries = emb.orderBy("vec_id").limit(10)
    exact = ss.brute_force_topk(emb, queries, k=5)
    approx = ss.lsh_topk(emb, queries, k=5, dim=64, bits=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # 4-bit buckets keep ~1/16 of the corpus per bucket; same-bucket
    # neighbors should recover a reasonable share of the true top-5
    recall = len(e & a) / len(e)
    assert recall >= 0.3
    # every approx hit must agree with the exact cosine (it re-ranks truly)
    assert a  # non-empty


def test_ivf_topk_recall(spark):
    from grafink_spark.llm import simsearch as ss
    from grafink_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.orderBy("vec_id").limit(10)
    cents = ss.ivf_train(emb, nlist=8, iters=1)
    assert len(cents) == 8

    exact = ss.brute_force_topk(emb, queries, k=5)
    approx = ss.ivf_topk(emb, queries, cents, k=5, nprobe=4)

    # contract: same schema, ranks 1..k, no self-pairs
    assert approx.columns == ["query_id", "neighbor_id", "cosine_sim", "rank"]
    assert approx.where("query_id = neighbor_id").count() == 0
    per_q = approx.groupBy("query_id").count().collect()
    assert all(r["count"] <= 5 for r in per_q)

    # recall@5 vs brute force must clear 0.5 probing half the lists
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"recall@5 = {recall}"

    # probing ALL lists makes IVF exact — results identical to brute force
    full = ss.ivf_topk(emb, queries, cents, k=5, nprobe=8)
    f = {(r.query_id, r.neighbor_id, r.rank) for r in full.collect()}
    ex = {(r.query_id, r.neighbor_id, r.rank) for r in exact.collect()}
    assert f == ex


def test_ivf_dimension_independent_plan(spark):
    """dim=512 / nlist=64 must not blow up the plan: the centroid
    matrix ships as broadcast data, so the analyzed plan stays O(1)
    in nlist×dim (VERDICT r1 item 5)."""
    import random

    rnd = random.Random(7)
    dim, nlist, n = 512, 64, 200
    rows = [
        (i, [rnd.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ss.ivf_train(emb, nlist=nlist, iters=1)
    assert len(cents) == nlist and all(len(v) == dim for _, v in cents)

    queries = emb.orderBy("vec_id").limit(3)
    out = ss.ivf_topk(emb, queries, cents, k=3, nprobe=8)
    # plan width check: the analyzed plan must not inline the matrix
    # (previously O(nlist*dim) literals ≈ 32k nodes / MBs of text)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 200_000, f"plan blew up: {len(plan)} chars"
    got = out.collect()
    assert len(got) == 9
    assert all(r.rank in (1, 2, 3) for r in got)


def _ragged(spark):
    """Three 3-dimensional vectors and one of length 2, plus a NULL."""
    return spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0]),
         (4, [1.0, 1.0]), (5, None)],
        "vec_id long, embedding array<double>",
    )


def test_ivf_assign_raises_on_unequal_vector_lengths(spark):
    emb = _ragged(spark)
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    with pytest.raises(Exception, match="vector of length 2 against 3-dimensional"):
        ss.ivf_assign(emb, cents).collect()
    # equal lengths assign as before, and so does a NULL vector (all
    # cosines 0, so the first list)
    got = {r.vec_id: r.list_id for r in ss.ivf_assign(emb.where("vec_id != 4"), cents).collect()}
    assert got == {1: 0, 2: 1, 3: 0, 5: 0}
    with pytest.raises(ValueError, match="unequal lengths"):
        ss.ivf_assign(emb, [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0])])


def test_ivf_train_raises_on_unequal_vector_lengths(spark):
    """The length-2 vector is not among the seeds, so training reaches
    the Lloyd step's assignment, which refuses it (it used to leave a
    NULL list_id and fail in int(None))."""
    with pytest.raises(Exception, match="vector of length 2"):
        ss.ivf_train(_ragged(spark), nlist=2, iters=1)


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """ivf_write_index + ivf_topk_indexed: identical results to the
    inline ivf_topk, and the probed scan reads ONLY the probed
    list_id= partitions (static partition pruning, visible in the
    physical plan)."""
    from grafink_spark.llm import simsearch as ss
    from grafink_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.orderBy("vec_id").limit(5)
    path = str(tmp_path / "ivf_index")
    cents = ss.ivf_write_index(emb, path, nlist=8, iters=1)
    assert len(cents) == 8

    inline = ss.ivf_topk(emb, queries, cents, k=3, nprobe=2)
    indexed = ss.ivf_topk_indexed(spark, path, queries, k=3, nprobe=2)
    a = {(r.query_id, r.neighbor_id, r.rank) for r in inline.collect()}
    b = {(r.query_id, r.neighbor_id, r.rank) for r in indexed.collect()}
    assert a == b and a

    # file pruning: the scan's PartitionFilters carry the probe-id
    # isin, so unprobed inverted lists are never read
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters", 1)[1][:400]

    # nprobe = nlist over the index reproduces brute force exactly
    exact = ss.brute_force_topk(emb, queries, k=3)
    full = ss.ivf_topk_indexed(spark, path, queries, k=3, nprobe=8)
    e = {(r.query_id, r.neighbor_id, r.rank) for r in exact.collect()}
    f = {(r.query_id, r.neighbor_id, r.rank) for r in full.collect()}
    assert e == f


def test_multiprobe_improves_recall_over_plain_lsh(spark):
    from grafink_spark.llm import simsearch as ss

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(5)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in ss.brute_force_topk(emb, queries, k=3).collect()
    }
    plain = {
        (r.query_id, r.neighbor_id)
        for r in ss.lsh_topk(emb, queries, k=3, dim=64, bits=6, tables=2).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in ss.lsh_topk(
            emb, queries, k=3, dim=64, bits=6, tables=2, probes=6
        ).collect()
    }
    # probes only ADD candidate buckets: recall can't drop, and the
    # exact-bucket candidates are a subset of the probed run's
    assert len(multi & bf) >= len(plain & bf)


def test_probes_zero_is_plain_lsh(spark):
    from grafink_spark.llm import simsearch as ss

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(3)
    a = sorted(
        map(tuple, ss.lsh_topk(emb, queries, k=3, bits=4, tables=2).collect())
    )
    b = sorted(
        map(
            tuple,
            ss.lsh_topk(emb, queries, k=3, bits=4, tables=2, probes=0).collect(),
        )
    )
    assert a == b


def test_ivf_index_append_then_full_probe_equals_brute_force(spark, tmp_path):
    from grafink_spark.llm import simsearch as ss

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 3 != 0)
    extra = emb.where(F.col("vec_id") % 3 == 0)
    queries = emb.orderBy("vec_id").limit(3)

    path = str(tmp_path / "ivf_idx")
    ss.ivf_write_index(base, path, nlist=4, iters=1)
    ss.ivf_index_append(spark, path, extra)

    got = sorted(
        (r.query_id, r.neighbor_id)
        for r in ss.ivf_topk_indexed(
            spark, path, queries, k=3, nprobe=4
        ).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id)
        for r in ss.brute_force_topk(emb, queries, k=3).collect()
    )
    # nprobe = nlist: the appended index searches the FULL union exactly
    assert got == want


def test_ivf_index_append_lands_in_list_partitions(spark, tmp_path):
    import glob

    from grafink_spark.llm import simsearch as ss

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf_idx2")
    ss.ivf_write_index(emb.where(F.col("vec_id") % 2 == 0), path, nlist=4, iters=1)
    before = set(glob.glob(path + "/vectors/list_id=*"))
    ss.ivf_index_append(spark, path, emb.where(F.col("vec_id") % 2 == 1))
    after = set(glob.glob(path + "/vectors/list_id=*"))
    # appends reuse the existing list directories (same partition scheme)
    assert before <= after
    n = spark.read.parquet(path + "/vectors").count()
    assert n == emb.count()


def test_quantized_topk_close_to_exact(spark):
    from grafink_spark.llm.simsearch import (
        brute_force_topk,
        quantize_embeddings,
        quantized_topk,
    )
    from grafink_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    codes = quantize_embeddings(emb)
    qc = codes.orderBy("vec_id").limit(5)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in quantized_topk(codes, qc, k=5).collect()
    }
    queries = emb.orderBy("vec_id").limit(5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    # int8 quantization keeps most of the neighborhood (recall@5 >= 0.5
    # on random unit-ish vectors; qdot ranks by un-normalized dot, so
    # it's an approximation of cosine order, not a bit-match)
    overlap = len(approx & exact) / len(exact)
    assert overlap >= 0.5


def test_quantize_codes_range_and_determinism(spark):
    from grafink_spark.llm.simsearch import quantize_embeddings
    from pyspark.sql import functions as F
    from grafink_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    codes = quantize_embeddings(emb)
    mm = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).first()
    assert mm.lo == 0 and mm.hi == 255
    a = {r.vec_id: r.codes for r in codes.collect()}
    b = {r.vec_id: r.codes for r in quantize_embeddings(emb.repartition(13)).collect()}
    assert a == b  # partitioning-independent codes


def test_mmr_prefers_diverse_over_redundant(spark):
    """lambda=0.5 must pick the diverse candidate at rank 2 where pure
    relevance (lambda=1) picks the near-duplicate of rank 1."""
    from grafink_spark.llm.simsearch import mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),        # query
        (1, [0.9, 0.436, 0.0]),      # most relevant
        (2, [0.89, 0.44, 0.12]),     # redundant near-dup of 1
        (3, [0.85, -0.5268, 0.0]),   # slightly less relevant, diverse
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where("vec_id = 0")
    diverse = {
        r.rank: r.neighbor_id
        for r in mmr_topk(emb, q, k=2, m=3, lam=0.5).collect()
    }
    assert diverse == {1: 1, 2: 3}
    greedy = {
        r.rank: r.neighbor_id
        for r in mmr_topk(emb, q, k=2, m=3, lam=1.0).collect()
    }
    assert greedy == {1: 1, 2: 2}


def test_mmr_rejects_bad_k(spark):
    import pytest

    from grafink_spark.llm.simsearch import mmr_topk

    emb = spark.createDataFrame(
        [(0, [1.0]), (1, [0.5])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        mmr_topk(emb, emb, k=5, m=3)


def test_bitext_mine_margin_suppresses_hubs(spark):
    """A hub vector close to everything must not win every pairing:
    the ratio margin normalizes by neighborhood means, so an exclusive
    (even if slightly weaker) match outranks the hub."""
    import math

    from grafink_spark.llm.simsearch import bitext_mine

    def unit(angle):
        return [math.cos(angle), math.sin(angle)]

    # side A: two vectors; side B: a hub near everything (bisector) and
    # a dedicated partner aligned with a2
    a = spark.createDataFrame(
        [(1, unit(0.0)), (2, unit(1.0))], "vec_id long, embedding array<double>"
    )
    b = spark.createDataFrame(
        [(10, unit(0.5)), (11, unit(1.02))],
        "vec_id long, embedding array<double>",
    )
    got = {r.a_id: r for r in bitext_mine(a, b, k=2, threshold=0.0).collect()}
    assert got[2].b_id == 11          # dedicated partner beats the hub
    assert got[1].b_id == 10          # the hub still serves its best case
    assert got[2].margin > 1.0

    # threshold filters weak-margin rows
    strict = bitext_mine(a, b, k=2, threshold=2.0).collect()
    assert len(strict) <= 1


def test_hard_triplet_mining_golden(spark):
    """Hand-checkable 2-D vectors: hardest positive is the most-distant
    same-label vector, hardest negative the closest other-label one;
    margin sign flags violated triplets."""
    from grafink_spark.llm.simsearch import hard_triplet_mining

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),   # close positive of 1
        (3, [0.0, 1.0], 0),   # far positive of 1 (hardest)
        (4, [1.0, 0.05], 1),  # near-duplicate impostor (hardest negative)
        (5, [-1.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    anchors = emb.where(emb.vec_id == 1)
    got = hard_triplet_mining(emb, anchors).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.anchor_id, r.pos_id, r.neg_id) == (1, 3, 4)
    assert r.margin < 0  # impostor closer than the far positive


def test_hard_triplet_mining_zero_norm_guard(spark):
    """A zero vector scores 0.0 (not NaN) and cannot hijack the
    hardest-negative pick."""
    from grafink_spark.llm.simsearch import hard_triplet_mining

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.8, 0.2], 0),
            (3, [0.9, 0.1], 1),
            (4, [0.0, 0.0], 1),  # zero-norm impostor candidate
        ],
        "vec_id long, embedding array<double>, label int",
    )
    r = hard_triplet_mining(emb, emb.where(emb.vec_id == 1)).collect()[0]
    assert r.neg_id == 3  # the real nearest impostor, not the zero vector
    assert r.neg_cos == r.neg_cos  # not NaN


def test_bitext_means_broadcast_gate_uses_side_proxies(spark, tmp_path):
    """The per-id means tables derive from a checkpointed pair table
    (unknown Catalyst stats), so their broadcast gate reads the
    ORIGINAL sides as size proxies — small parquet-backed sides (the
    real input shape; createDataFrame locals carry no stats) must
    still produce broadcast hash joins rather than sort-merge shuffles
    of the full pair table."""
    from grafink_spark.llm.simsearch import bitext_mine

    pa, pb = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.createDataFrame(
        [(i, [1.0, float(i % 3)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    ).write.parquet(pa)
    spark.createDataFrame(
        [(100 + i, [1.0, float(i % 3)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    ).write.parquet(pb)
    out = bitext_mine(spark.read.parquet(pa), spark.read.parquet(pb), k=2, threshold=0.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert out.count() > 0


def test_bitext_mine_ivf_full_probe_equals_exact(spark, emb):
    """nprobe = nlist recovers the full A×B pair space, so the IVF
    twin must return EXACTLY the exact form's pairs, cosines, and
    margins (same tie rules, same decimal mean staging) — and with a
    partial probe set its pairs are a subset of the candidate-scored
    space with identical cosines for pairs both forms emit."""
    sub = emb.orderBy("vec_id").limit(40).cache()
    a = sub.where(F.col("label") == 0)
    b = sub.where(F.col("label") == 1)
    exact = {
        (r.a_id, r.b_id): (r.cosine_sim, r.margin)
        for r in ss.bitext_mine(a, b, k=3, threshold=0.0).collect()
    }
    full = {
        (r.a_id, r.b_id): (r.cosine_sim, r.margin)
        for r in ss.bitext_mine_ivf(
            a, b, k=3, threshold=0.0, nlist=4, nprobe=4
        ).collect()
    }
    assert full == exact
    # partial probes: winners may differ (margins are neighborhood-
    # relative) but any coinciding pair carries the identical cosine
    part = ss.bitext_mine_ivf(a, b, k=3, threshold=0.0, nlist=4, nprobe=2)
    for r in part.collect():
        if (r.a_id, r.b_id) in exact:
            assert abs(exact[(r.a_id, r.b_id)][0] - r.cosine_sim) < 1e-12


def test_bitext_mine_ivf_no_cross_join(spark, emb):
    """The candidate generator must be an equi join on list_id: no
    CartesianProduct and no corpus-side broadcast cross — the only
    BNLJ allowed is the 1-row centroid matrix."""
    a = emb.where(F.col("label") == 0)
    b = emb.where(F.col("label") == 1)
    out = ss.bitext_mine_ivf(a, b, k=4, nlist=8, nprobe=4)
    from grafink_spark.planlint import lint_query_build

    codes = lint_query_build(lambda: ss.bitext_mine_ivf(a, b, k=4, nlist=8, nprobe=4))
    assert "cartesian" not in codes
    assert "oversized-broadcast" not in codes
    assert out.columns == ["a_id", "b_id", "cosine_sim", "margin"]


def test_label_noise_ivf_full_probe_equals_brute(spark, emb):
    """ivf_topk with nprobe = nlist probes every list, so candidates
    are the full pair space and the top-k must equal brute force —
    the subset-of-exact guarantee for the label-noise scale twin."""
    sub = emb.orderBy("vec_id").limit(40).cache()
    cents = ss.ivf_train(sub, nlist=4, iters=1)
    ivf = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ss.ivf_topk(sub, sub, cents, k=5, nprobe=4).collect()
    }
    brute = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ss.brute_force_topk(
            sub, sub, k=5, broadcast_queries=False
        ).collect()
    }
    assert ivf == brute


def test_derive_nlist_matches_sql_rule():
    """max(8, ceil(sqrt(N))) — and the DuckDB replay computes the same
    integers for every N the tables can hit (including perfect
    squares, where IEEE sqrt is exact)."""
    import duckdb

    cases = [0, 1, 2, 63, 64, 65, 500, 2000, 10000, 20000, 123456]
    for n in cases:
        got = ss.derive_nlist(n)
        (want,) = duckdb.sql(
            f"SELECT greatest(8, CAST(ceil(sqrt({max(n, 1)})) AS BIGINT))"
        ).fetchone()
        assert got == want, (n, got, want)
    assert ss.derive_nlist(500) == 23
    assert ss.derive_nlist(10000) == 100


def test_salted_ivf_join_results_identical(spark, emb):
    """Forcing the partitioned path (broadcast gate shut) with and
    without hot-list salting must give bit-identical top-k — salting
    changes partitioning only. Also: the floor salt engages when
    nlist < shuffle partitions (join keys include _salt)."""
    conf_key = "spark.grafink.broadcastMaxBytes"
    cents = ss.ivf_train(emb, nlist=4, iters=1)
    baseline = sorted(
        tuple(r)
        for r in ss.ivf_topk(emb, emb, cents, k=3, nprobe=2).collect()
    )
    spark.conf.set(conf_key, "1")
    try:
        forced = ss.ivf_topk(emb, emb, cents, k=3, nprobe=2)
        hot = ss.ivf_topk(emb, emb, cents, k=3, nprobe=2, hot_threshold=50)
        assert "_salt" in forced._jdf.queryExecution().optimizedPlan().toString()
        assert sorted(tuple(r) for r in forced.collect()) == baseline
        assert sorted(tuple(r) for r in hot.collect()) == baseline
    finally:
        spark.conf.unset(conf_key)


def test_ivf_topk_allpairs_equals_two_pass(spark, emb):
    """The fused one-pass (assignment + probes from one similarity
    array) must be bit-identical to ivf_topk(corpus, corpus, ...) —
    same tie rules (assign → lowest cid, probes → higher cid), same
    staged norms — at partial AND full probe counts."""
    cents = ss.ivf_train(emb, nlist=8, iters=1)
    for nprobe in (2, 8):
        two = sorted(
            tuple(r)
            for r in ss.ivf_topk(emb, emb, cents, k=4, nprobe=nprobe).collect()
        )
        fused = sorted(
            tuple(r)
            for r in ss.ivf_topk_allpairs(
                emb, cents, k=4, nprobe=nprobe
            ).collect()
        )
        assert fused == two


def test_bitext_mine_ivf_count_derived_default(spark, emb):
    """nlist=None derives from the b-side count; the mined pairs'
    cosines still agree with the exact form where both find a pair."""
    a = emb.where(F.col("label") == 0)
    b = emb.where(F.col("label") == 1)
    out = ss.bitext_mine_ivf(a, b, k=3, threshold=0.0)
    exact = {
        (r.a_id, r.b_id): r.cosine_sim
        for r in ss.bitext_mine(a, b, k=3, threshold=0.0).collect()
    }
    rows = out.collect()
    assert rows
    for r in rows:
        if (r.a_id, r.b_id) in exact:
            assert abs(exact[(r.a_id, r.b_id)] - r.cosine_sim) < 1e-12


# ---- product quantization (PQ / IVF-PQ) ----


def _exact_l2_topk(emb, queries, k):
    """Reference exact squared-L2 top-k (same tie rule as pq_topk)."""
    from pyspark.sql import Window

    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("_cv"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    )
    d = F.aggregate(
        F.zip_with("_qv", "_cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id").asc()
    )
    return (
        q.crossJoin(c)
        .where("query_id != neighbor_id")
        .select("query_id", "neighbor_id", d.alias("d"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def test_pq_identity_codebooks_recover_exact_l2(spark, emb):
    """ksub == |corpus|, iters=0: every vector is its own code, so ADC
    distance IS the exact squared L2 and pq_topk must equal the exact
    L2 ranking — the PQ analogue of the IVF full-probe equivalence."""
    n = emb.count()
    cbs = ss.pq_train(emb, dim=64, m=4, ksub=n, iters=0)
    queries = emb.orderBy("vec_id").limit(3)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.adc_dist, 9))
        for r in ss.pq_topk(emb, queries, cbs, k=3).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.d, 9))
        for r in _exact_l2_topk(emb, queries, 3).collect()
    }
    assert got == want


def test_ivfpq_full_probe_identity_codebooks_recover_exact_l2(spark, emb):
    """nprobe == nlist + identity codebooks: IVF prunes nothing and PQ
    loses nothing, so ivfpq_topk equals the exact L2 ranking."""
    n = emb.count()
    cbs = ss.pq_train(emb, dim=64, m=4, ksub=n, iters=0)
    cents = ss.ivf_train(emb, nlist=4, iters=1)
    queries = emb.orderBy("vec_id").limit(3)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.adc_dist, 9))
        for r in ss.ivfpq_topk(emb, queries, cents, cbs, k=3, nprobe=4).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.d, 9))
        for r in _exact_l2_topk(emb, queries, 3).collect()
    }
    assert got == want


def test_pq_train_deterministic_and_validates(spark, emb):
    a = ss.pq_train(emb, dim=64, m=4, ksub=8, iters=1)
    b = ss.pq_train(emb, dim=64, m=4, ksub=8, iters=1)
    assert a == b
    assert len(a) == 4 and all(len(cb) == 8 for cb in a)
    assert all(len(cv) == 16 for cb in a for _, cv in cb)
    with pytest.raises(ValueError, match="not divisible"):
        ss.pq_train(emb, dim=64, m=5)


def test_pq_empty_cluster_keeps_seed(spark):
    """A code whose Lloyd cluster ends empty must keep its seed
    sub-centroid (codes stay dense) — duplicate seed vectors force the
    tie onto the lowest code, leaving the duplicate's code empty."""
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = ss.pq_train(df, dim=2, m=2, ksub=2, iters=1)
    # subspace 0: seeds [1.0], [1.0]; both rows 0,1 tie to code 0, row 2
    # assigns to... seed values equal -> code 1 never wins a tie
    assert cbs[0][1][1] == [1.0]  # code 1 kept its seed sub-centroid


def test_pq_topk_trained_recall_and_shape(spark, emb):
    """Trained 16x32 PQ: rows are (query, neighbor, ascending adc,
    rank), self-pairs excluded, and the compressed ranking recovers a
    reasonable share of the exact L2 top-5 (measured 0.4 on these
    near-random embeddings — real corpora cluster far more)."""
    cbs = ss.pq_train(emb, dim=64, m=16, ksub=32, iters=1)
    queries = emb.orderBy("vec_id").limit(10)
    out = ss.pq_topk(emb, queries, cbs, k=5).collect()
    assert len(out) == 50
    by_q = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        dists = [r.adc_dist for r in rows]
        assert dists == sorted(dists)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in _exact_l2_topk(emb, queries, 5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in out}
    assert len(exact & approx) / len(exact) >= 0.3
