"""Dedup operators: exact, shingles, minhash-LSH, jaccard, simhash,
embedding near-dup."""

import pytest
from pyspark.sql import functions as F

from grafink_spark.llm import dedup as dd


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat and looked around the room"),
            (2, "the cat sat on the mat and looked around the room"),  # exact dup of 1
            (3, "the cat sat on the mat and looked around the house"),  # near dup
            (4, "completely different content about spark query engines"),
            (5, "another unrelated document mentioning databases and joins"),
        ],
        "doc_id long, text string",
    )


def test_exact_duplicates(spark, docs):
    groups = dd.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].keeper_id == 1 and groups[0].dup_count == 2


def test_drop_exact_duplicates(spark, docs):
    kept = dd.drop_exact_duplicates(docs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 5]


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], "id long, text string")
    got = {r.id: r.sh for r in df.select("id", dd.shingles("text", 3).alias("sh")).collect()}
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == ["a b"]  # shorter than k → single shingle


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_candidates(docs, num_hashes=16, bands=8).collect()
    }
    assert (1, 2) in pairs  # exact dups always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup should band-collide
    assert (4, 5) not in pairs


def test_ngram_jaccard_verification(spark, docs):
    cand = dd.minhash_lsh_candidates(docs, num_hashes=16, bands=8)
    verified = dd.ngram_jaccard_pairs(docs, threshold=0.5, candidates=cand)
    got = {(r.id_a, r.id_b): r.jaccard_sim for r in verified.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0


def test_ngram_jaccard_blocked(spark, docs):
    docs2 = docs.withColumn("blk", F.lit(1))
    out = dd.ngram_jaccard_pairs(docs2, threshold=0.99, block_by=["blk"])
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(1, 2)}


def test_simhash_is_similarity_preserving(spark, docs):
    sh = {r.doc_id: r.s for r in docs.select("doc_id", dd.simhash("text").alias("s")).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[1], sh[2]) == 0
    assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])


def test_embedding_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.04, 0.0], 0),  # ~same direction as 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = dd.embedding_near_duplicates(df, threshold=0.95)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}
    blocked = dd.embedding_near_duplicates(df, threshold=0.0, block_by="label")
    assert all(r.id_a != 4 and r.id_b != 4 for r in blocked.collect())


def test_minhash_on_real_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cand = dd.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    verified = dd.ngram_jaccard_pairs(docs, threshold=0.8, candidates=cand)
    # sanity: runs end to end; candidates are a tiny fraction of all pairs
    n_docs = docs.count()
    assert cand.count() < n_docs * (n_docs - 1) / 20
    verified.count()  # materializes without error


def test_connected_components_chain_and_cliques(spark):
    from grafink_spark.llm.dedup import connected_components

    # chain 1-2-3-4-5 (diameter 4 → needs several propagation rounds),
    # plus separate triangle {10,11,12} and isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_long_chain_converges(spark):
    """A 50-node path is min-label propagation's worst case (needs 49
    rounds); large-star/small-star must converge within the default
    20-round cap (O(log n))."""
    from grafink_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a long, id_b long"
    )
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {(i, 0) for i in range(50)}


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iterations must raise, not return a silently
    partial labeling."""
    import pytest

    from grafink_spark.errors import ConvergenceException
    from grafink_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a long, id_b long"
    )
    with pytest.raises(ConvergenceException):
        connected_components(pairs, max_iterations=1)


def test_drop_near_duplicates_keeps_min_id(spark):
    from grafink_spark.llm.dedup import drop_near_duplicates

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "a completely different document about spark query planning"),
        (4, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in drop_near_duplicates(df, threshold=0.5).collect())
    # 1,2,4 are near-dups → keeper is 1; 3 survives untouched
    assert kept == [1, 3]


def test_simhash_near_duplicates_banding_is_exhaustive(spark):
    from pyspark.sql import functions as F

    from grafink_spark.llm.dedup import simhash, simhash_near_duplicates

    rows = [(i, f"doc number {i} with some shared words " + "common " * (i % 4))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {
        (r.id_a, r.id_b, r.hamming_dist)
        for r in simhash_near_duplicates(df, bands=4, max_hamming=3).collect()
    }
    # brute force over all pairs must find the identical set
    sigs = df.select("doc_id", simhash(F.col("text")).alias("s"))
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    brute = {
        (r.id_a, r.id_b, r.hd)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hd"))
        .where(F.col("hd") <= 3)
        .collect()
    }
    assert banded == brute
    import pytest

    with pytest.raises(ValueError):
        simhash_near_duplicates(df, bands=3, max_hamming=3)


def test_semantic_dedup_exact_dups_dropped(spark):
    # exact duplicates always land in the same cluster (identical
    # cosines -> same argmax tie-break), so the golden is clustering-
    # agnostic: 2 and 5 are dropped, lowest ids survive
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dd.semantic_dedup(df, nlist=2, iters=1, threshold=0.95)
    assert "list_id" in out.columns
    assert sorted(r.vec_id for r in out.collect()) == [1, 3, 4, 6]


def test_incremental_dedup_against_corpus(spark):
    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # corpus dup
            (2, "totally different words appear right here now"),
            (3, "totally different words appear right here now"),  # in-batch dup of 2
            (4, "yet another clean and unrelated document body"),
        ],
        "doc_id long, text string",
    )
    cand = dd.incremental_lsh_candidates(new, corpus)
    assert (1, 100) in {(r.id_a, r.id_b) for r in cand.collect()}
    out = dd.drop_incremental_near_duplicates(new, corpus)
    assert sorted(r.doc_id for r in out.collect()) == [2, 4]


def test_chunk_dedup_keep_first_and_rebuild(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "x y z q"),
            (4, "d e f"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dd.chunk_dedup(df, chunk_words=3).collect()
    }
    # doc 1 keeps both chunks (first occurrences)
    assert out[1]["text"] == "a b c d e f"
    assert (out[1]["n_chunks"], out[1]["n_kept"]) == (2, 2)
    # doc 2 loses "a b c" (first seen in doc 1), keeps "x y z"
    assert out[2]["text"] == "x y z"
    # doc 3 loses "x y z" (first kept at doc 2), keeps the tail chunk
    assert out[3]["text"] == "q"
    # doc 4 is entirely duplicate chunks -> dropped
    assert 4 not in out


def test_chunk_dedup_within_doc_repeats(spark):
    df = spark.createDataFrame(
        [(7, "p q r p q r p q")], "doc_id long, text string"
    )
    row = dd.chunk_dedup(df, chunk_words=3).collect()[0]
    # chunks: "p q r" / "p q r" / "p q" -- the repeat inside the doc dedups
    assert (row["n_chunks"], row["n_kept"]) == (3, 2)
    assert row["text"] == "p q r p q"


def test_ngram_span_coverage_golden(spark):
    from grafink_spark.llm.dedup import ngram_span_coverage

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # windows: 'a b c d e', 'b c d e f'
            (2, "z a b c d e"),      # windows: 'z a b c d', 'a b c d e'
            (3, "x y w q r"),        # one unique window
            (4, "a b"),              # < 5 tokens → no windows, no row
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.total_windows, r.dup_windows, r.dup_fraction)
        for r in ngram_span_coverage(docs, n=5).collect()
    }
    assert out == {1: (2, 1, 0.5), 2: (2, 1, 0.5), 3: (1, 0, 0.0)}


def test_ngram_span_coverage_counts_repeats_within_doc(spark):
    from grafink_spark.llm.dedup import ngram_span_coverage

    # doc 1 contains the shared gram twice: both window instances count
    # as duplicated mass
    docs = spark.createDataFrame(
        [
            (1, "a b c d e a b c d e"),  # 6 windows, 2 of them 'a b c d e'
            (2, "a b c d e"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.total_windows, r.dup_windows)
        for r in ngram_span_coverage(docs, n=5).collect()
    }
    assert out[2] == (1, 1)
    assert out[1][0] == 6
    assert out[1][1] >= 2


def test_connected_components_boundary_round_converges(spark):
    """A fixpoint first reached ON the last permitted round must count
    as converged: max_iterations bounds CHANGING rounds, and the
    detection pass runs one round later (r2 review finding). Find the
    exact round count for a chain empirically, then cap there."""
    from grafink_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    want = {(i, 0) for i in range(13)}
    # binary-probe the minimal max_iterations that converges; asserting
    # it produces the right labeling proves the boundary round is not
    # rejected (pre-fix, the minimal cap raised ConvergenceException)
    from grafink_spark.errors import ConvergenceException

    lo = 1
    while True:
        try:
            got = {
                (r.doc_id, r.component_id)
                for r in connected_components(pairs, max_iterations=lo).collect()
            }
            break
        except ConvergenceException:
            lo += 1
            assert lo <= 20
    assert got == want


def test_containment_catches_embedded_document(spark):
    """A short doc embedded verbatim in a much larger one: containment
    of the small side is 1.0 while Jaccard is far below any dedup
    threshold — the case the directional measure exists for."""
    from grafink_spark.llm.dedup import containment_pairs, ngram_jaccard_pairs

    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    cont = containment_pairs(docs, threshold=0.9, candidates=cand).collect()
    assert len(cont) == 1
    assert cont[0].containment_ab == 1.0  # small fully inside big
    assert cont[0].containment_ba < 0.1
    jac = ngram_jaccard_pairs(
        docs, threshold=0.5, candidates=cand
    ).collect()
    assert jac == []  # symmetric Jaccard misses it


def test_minhash_estimate_identical_and_disjoint(spark):
    """Estimator sanity: identical docs agree on every signature
    position (est = exact = 1); disjoint docs agree on ~none."""
    from grafink_spark.llm.dedup import minhash_jaccard_estimate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "entirely different words with zero overlap here"),
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    rows = {
        (r.id_a, r.id_b): r
        for r in minhash_jaccard_estimate(docs, cand).collect()
    }
    same = rows[(1, 2)]
    assert same.est_jaccard == 1.0 and same.exact_jaccard == 1.0
    assert same.abs_err == 0.0
    diff = rows[(1, 3)]
    assert diff.exact_jaccard == 0.0
    assert diff.est_jaccard <= 0.25  # a few chance collisions allowed


def test_keep_best_prefers_high_score_over_min_id(spark):
    """Three near-identical docs: keep-best retains the highest-scored
    one (not the min id), the plain drop keeps the min id."""
    from grafink_spark.llm.dedup import (
        drop_near_duplicates,
        drop_near_duplicates_keep_best,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base + " x", 10),
            (2, base + " y", 99),   # best quality, not min id
            (3, base + " z", 50),
            (9, "totally unrelated content lives here alone", 7),
        ],
        "doc_id long, text string, quality long",
    )
    best = {r.doc_id for r in drop_near_duplicates_keep_best(
        docs, score_col="quality", threshold=0.5).collect()}
    assert best == {2, 9}
    plain = {r.doc_id for r in drop_near_duplicates(
        docs, threshold=0.5).collect()}
    assert plain == {1, 9}


def test_semantic_contamination_flags_near_test_vectors(spark):
    from grafink_spark.llm.dedup import semantic_contamination

    test = spark.createDataFrame(
        [(900, [1.0, 0.0, 0.0]), (901, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.99, 0.1, 0.0]),   # ≈ test 900
            (2, [0.1, 0.99, 0.0]),   # ≈ test 901
            (3, [0.7, 0.7, 0.0]),    # close-ish to both
            (4, [0.0, 0.0, 1.0]),    # orthogonal to both
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: (r.n_hits, r.max_sim)
        for r in semantic_contamination(corpus, test, threshold=0.9).collect()
    }
    assert set(out) == {1, 2}
    assert out[1][0] == 1 and out[1][1] > 0.99
    # lower threshold picks up the in-between vector against BOTH
    out2 = {
        r.vec_id: r.n_hits
        for r in semantic_contamination(corpus, test, threshold=0.5).collect()
    }
    assert out2[3] == 2 and 4 not in out2
    # plan: broadcast nested loop, no shuffle of the corpus side
    plan = semantic_contamination(corpus, test, threshold=0.5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def _semantic_dedup_reference(df, nlist, threshold):
    """semantic_dedup's survivor rule rebuilt from other operators: the
    same IVF blocking, Catalyst-expression cosines over every
    same-cluster pair, then a left-anti join on the dropped b-side ids."""
    from grafink_spark.llm.simsearch import ivf_assign, ivf_train

    centroids = ivf_train(df, nlist=nlist, iters=1)
    assigned = ivf_assign(df, centroids)
    pairs = dd.embedding_near_duplicates(
        assigned, threshold=threshold, block_by="list_id"
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id"))
    return assigned.join(dropped, "vec_id", "left_anti")


def test_semantic_dedup_matches_expression_reference(spark):
    """The BLAS kernel keeps the same (vec_id, list_id) rows as the
    expression reference on near-duplicate clusters, repeated rows (same
    id twice, same vector under a new id), a zero vector, a singleton
    cluster and an empty frame."""
    import random

    rnd = random.Random(11)
    dim = 17
    # positive coordinates: every base vector is closer to a base seed
    # than to the orthogonal vector, which therefore clusters alone
    base = [[rnd.uniform(0, 1) for _ in range(dim - 1)] + [0.0] for _ in range(6)]
    rows = []
    for i in range(120):
        v = list(base[i % 6])
        v[0] += rnd.uniform(-0.05, 0.05)  # near-dup clusters
        rows.append((i, v))
    rows[2] = (2, [0.0] * (dim - 1) + [1.0])  # an IVF seed, orthogonal to all
    rows += [rows[5], rows[17], (500, rows[3][1]), (501, [0.0] * dim)]
    schema = "vec_id long, embedding array<double>"
    df = spark.createDataFrame(rows, schema)

    def survivors(out):
        return sorted((r.vec_id, r.list_id) for r in out.collect())

    got = survivors(dd.semantic_dedup(df, nlist=4, iters=1, threshold=0.95))
    want = survivors(_semantic_dedup_reference(df, nlist=4, threshold=0.95))
    assert got == want
    assert len(got) < len(rows)  # something was actually deduped
    ids = [v for v, _ in got]
    assert ids.count(5) == 2  # a survivor repeated under its id stays twice
    assert 17 not in ids  # both copies of a dropped row go
    assert 500 not in ids and 501 in ids
    lists = [lid for _, lid in got]
    assert lists.count(dict(got)[2]) == 1  # the singleton cluster

    empty = spark.createDataFrame([], schema)
    assert dd.semantic_dedup(empty, iters=1, threshold=0.95).collect() == []


def test_semantic_dedup_ragged_cluster_raises(spark):
    """Vectors of different lengths have no gram matrix: semantic_dedup
    must fail, not return survivors. ``ivf_assign`` refuses them before
    any cluster forms; the kernel keeps its own check for a ragged
    cluster handed to it directly."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="vector of length 3"):
        dd.semantic_dedup(df, nlist=1, iters=0, threshold=0.5).collect()
    one_cluster = df.withColumn("list_id", F.lit(0))
    with pytest.raises(Exception, match="must match exactly"):
        dd._arrow_within_cluster_dropped(one_cluster, "embedding", "vec_id", 0.5).collect()


def test_strip_dup_spans_removes_shared_and_repeated_windows(spark):
    from grafink_spark.llm.dedup import strip_dup_spans

    boiler = "all rights reserved by the site"  # 6 tokens → two 5-windows
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler} delta"),
            (2, f"unrelated words here {boiler} epsilon zeta"),
            (3, "one two three four"),             # < n tokens: untouched
            (4, "x y z w v x y z w v"),            # internal repeat
            (5, "totally unique sentence with many distinct tokens here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_dup_spans(docs, n=5).collect()}

    # the shared boilerplate (and windows overlapping it) is gone
    for d in (1, 2):
        assert "rights" not in out[d].clean_text
        assert out[d].n_removed > 0
    # doc 1 keeps no overlap-free prefix shorter than the window reach
    assert out[1].n_tokens == 10
    # short doc passes through verbatim
    assert out[3].clean_text == "one two three four"
    assert out[3].n_removed == 0
    # within-doc repetition counts as duplication (corpus-wide count > 1)
    assert out[4].n_removed == out[4].n_tokens  # every window duplicated
    assert out[4].clean_text == ""
    # unique doc untouched
    assert out[5].n_removed == 0
    assert out[5].clean_text == out[5].clean_text.strip()


def test_dedup_provenance_verdict_precedence(spark):
    from grafink_spark.llm.dedup import dedup_provenance

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),                       # keeper of the exact group
            (2, base),                       # exact dup of 1
            (3, base + " tail"),             # near dup of the group
            (4, "completely different words " * 4),   # self-repeat only
            (5, "entirely unrelated unique content lives here"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in dedup_provenance(docs).collect()}
    assert out[1].verdict in ("keep", "substring")  # min id never 'exact'
    assert not out[1].exact_dup
    assert out[1].dup_span_frac == 1.0              # spans shared with 2/3
    assert out[2].verdict == "exact"                # precedence over near
    assert out[2].exact_dup and out[2].near_dup
    assert out[3].verdict == "near"
    assert not out[3].exact_dup
    # span coverage is CROSS-document (strip_dup_spans handles
    # within-doc repeats); a self-repeating singleton is clean here
    assert out[4].dup_span_frac == 0.0
    assert out[4].verdict == "keep"
    assert out[5].verdict == "keep"
    assert set(out) == {1, 2, 3, 4, 5}


def test_set_similarity_join_is_lossless_vs_brute_force(spark):
    import itertools

    from grafink_spark.llm.dedup import set_similarity_join

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(40):
        # overlapping sliding vocab windows → a dense near-dup band
        words = [vocab[(i + j) % len(vocab)] for j in range(5)] * 3
        rows.append((i, " ".join(words)))
    # an empty document (no shingles, never paired) and an exact
    # duplicate text under a new id (Jaccard 1 with its original)
    rows += [(40, ""), (41, rows[3][1])]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in set_similarity_join(df, k=3, threshold=0.4).collect()
    }

    # brute force ground truth on distinct 3-shingle sets
    def shset(text):
        t = text.split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    sets = {i: shset(t) for i, t in rows}
    expect = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= 0.4:
            expect[(a, b)] = j
    assert expect[(3, 41)] == 1.0
    assert got.keys() == expect.keys()
    for p, j in expect.items():
        assert abs(got[p] - j) < 1e-12
    assert len(expect) > 0  # the fixture actually exercises matches


def test_filter_stats_consistent_with_join_output(spark):
    """ssjoin/apss filter-effectiveness counters: emitted equals the
    join's actual row count, candidates bound emitted from above, and
    the prefix filter is genuinely sub-quadratic on a mixed corpus."""
    from grafink_spark.llm.dedup import (
        apss_filter_stats,
        set_similarity_join,
        ssjoin_filter_stats,
        weighted_cosine_join,
    )

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = [
        (i, " ".join([vocab[(i + j) % len(vocab)] for j in range(5)] * 3))
        for i in range(30)
    ] + [(100 + i, f"unique{i} token{i} body{i} tail{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    s = ssjoin_filter_stats(df, k=3, threshold=0.4)
    assert s["n_docs"] == 50 and s["all_pairs"] == 50 * 49 // 2
    assert s["emitted"] == set_similarity_join(df, k=3, threshold=0.4).count()
    assert s["emitted"] <= s["candidates"] <= s["prefix_pairs"]
    assert s["candidates"] < s["all_pairs"]  # the filter filters

    a = apss_filter_stats(df, threshold=(7, 10), k=3)
    assert a["emitted"] == weighted_cosine_join(
        df, threshold=(7, 10), k=3
    ).count()
    assert a["emitted"] <= a["candidates"] < a["all_pairs"]


def test_set_similarity_join_plan_has_no_cartesian(spark):
    from grafink_spark.llm.dedup import set_similarity_join

    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(30)],
        "doc_id long, text string",
    )
    plan = (
        set_similarity_join(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_normalized_duplicates(spark):
    """Casing/punctuation/whitespace variants collapse; distinct
    content does not; keeper is min id."""
    from grafink_spark.llm.dedup import normalized_duplicates

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),
            (3, "HELLO WORLD?!"),
            (4, "goodbye world"),
        ],
        "doc_id long, text string",
    )
    out = normalized_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0].keeper_id == 1 and out[0].dup_count == 3


@pytest.mark.parametrize("verify", ["auto", "join", "arrow", "arrow_joinplumb"])
def test_weighted_cosine_join_is_lossless_vs_brute_force(spark, verify):
    """Both verify backends (and the size gate that picks between
    them) produce the identical integer-exact row set. arrow runs
    twice: a tiny corpus takes its BROADCAST plumbing by default, so
    arrow_joinplumb zeroes the engine-wide broadcast bound to force the
    join plumbing (the 100 TB path) through the same assertions."""
    import itertools
    import math
    from collections import Counter

    from grafink_spark.llm.dedup import weighted_cosine_join

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = []
    for i in range(30):
        # repeated sliding windows → graded count-vector overlap
        words = [vocab[(i + j) % len(vocab)] for j in range(3)] * (2 + i % 3)
        rows.append((i, " ".join(words)))
    # an empty document (zero vector, never paired) and an exact
    # duplicate text under a new id (cosine 1 with its original)
    rows += [(30, ""), (31, rows[4][1])]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    if verify == "arrow_joinplumb":
        verify = "arrow"
        spark.conf.set("spark.grafink.broadcastMaxBytes", "0")
    try:
        got = {
            (r.id_a, r.id_b): (r.dot, r.t_a, r.t_b)
            for r in weighted_cosine_join(
                df, threshold=(7, 10), verify=verify
            ).collect()
        }
    finally:
        spark.conf.unset("spark.grafink.broadcastMaxBytes")

    cnt = {i: Counter(t.split()) for i, t in rows}
    expect = {}
    for a, b in itertools.combinations(sorted(cnt), 2):
        dot = sum(cnt[a][w] * cnt[b][w] for w in cnt[a])
        ta = sum(v * v for v in cnt[a].values())
        tb = sum(v * v for v in cnt[b].values())
        # a zero vector has no cosine: the empty document pairs with none
        if dot and 100 * dot * dot >= 49 * ta * tb:
            expect[(a, b)] = (dot, ta, tb)
    assert expect[(4, 31)][0] == expect[(4, 31)][1] == expect[(4, 31)][2]
    assert got == expect
    assert len(expect) > 0
    # and the reported cosine is the plain IEEE expression
    for r in weighted_cosine_join(df, threshold=(7, 10)).collect():
        assert abs(
            r.cosine_sim - r.dot / math.sqrt(r.t_a * r.t_b)
        ) < 1e-15


def test_weighted_cosine_join_verify_gate(spark, monkeypatch):
    """The auto gate picks the join backend under the candidate floor
    (tiny corpus), the arrow backend at a floor of 0, and rejects
    unknown backends (the deleted map backend included)."""
    from grafink_spark.llm.dedup import weighted_cosine_join

    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(10)],
        "doc_id long, text string",
    )
    for bad in ("bogus", "map"):
        with pytest.raises(ValueError, match="verify must be"):
            weighted_cosine_join(df, verify=bad)
    # default floor (500k): tiny corpus -> join backend, no python
    plan = (
        weighted_cosine_join(df, verify="auto")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in plan and "map_zip_with" not in plan
    # a floor of 0 picks the batched scale backend even on a tiny
    # corpus — visible as the Arrow python-eval node in the plan
    monkeypatch.setattr(dd, "APSS_ARROW_VERIFY_MIN_CANDIDATES", 0)
    plan = (
        weighted_cosine_join(df, verify="auto")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan


@pytest.mark.parametrize("verify", ["join", "arrow"])
def test_weighted_cosine_join_plan_has_no_cartesian(spark, verify):
    """Explicit backends, NOT auto: auto pins the candidate frame (a
    localCheckpoint), which hides the prefix self-join — the only
    cartesian-risk subtree — behind a LogicalRDD scan, so the guard
    would be blind to a regression there."""
    from grafink_spark.llm.dedup import weighted_cosine_join

    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = (
        weighted_cosine_join(df, verify=verify)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_contamination_ivf_subset_of_exact(spark):
    """IVF blocking never invents hits: every flagged corpus vector is
    flagged by the exact pass with n_hits <= exact and the same max_sim
    whenever the maximizing pair was probed; nprobe=nlist recovers the
    exact result."""
    from pyspark.sql import functions as F

    from grafink_spark.llm.dedup import (
        semantic_contamination,
        semantic_contamination_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    test = emb.where(F.col("vec_id") % 20 == 7)
    corpus = emb.where(F.col("vec_id") % 20 != 7)
    exact = {
        r.vec_id: (r.n_hits, round(r.max_sim, 9))
        for r in semantic_contamination(corpus, test, threshold=0.3).collect()
    }
    blocked = {
        r.vec_id: (r.n_hits, round(r.max_sim, 9))
        for r in semantic_contamination_ivf(
            corpus, test, nlist=4, nprobe=2, threshold=0.3
        ).collect()
    }
    assert set(blocked) <= set(exact)
    for vid, (n, _) in blocked.items():
        assert n <= exact[vid][0]
    full = {
        r.vec_id: (r.n_hits, round(r.max_sim, 9))
        for r in semantic_contamination_ivf(
            corpus, test, nlist=4, nprobe=4, threshold=0.3
        ).collect()
    }
    assert full == exact


def test_semantic_contamination_ivf_zero_norm_guard(spark):
    """Zero vectors score 0.0 (not NaN) and are never reported."""
    from grafink_spark.llm.dedup import semantic_contamination_ivf

    emb = spark.createDataFrame(
        [(i, [1.0, float(i % 3)]) for i in range(1, 20)]
        + [(99, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    test = emb.where(emb.vec_id % 7 == 0)
    corpus = emb.where(emb.vec_id % 7 != 0)
    got = semantic_contamination_ivf(
        corpus, test, nlist=2, nprobe=2, threshold=0.5
    ).collect()
    assert all(r.max_sim == r.max_sim for r in got)  # no NaN


def test_apss_bcast_kernel_rejects_missing_id():
    """The flat-broadcast APSS kernel looks ids up with searchsorted; an
    id absent from its vector table must raise, not dot against the
    neighbouring document's vector (below, between and past the ids)."""
    from types import SimpleNamespace

    import numpy as np
    import pandas as pd

    table = (
        np.array([1, 3], dtype=np.int64),  # doc ids
        np.array([0, 1, 2], dtype=np.int64),  # offset fences
        np.array([7, 7], dtype=np.int64),  # term keys
        np.array([2, 3], dtype=np.int64),  # term counts
    )
    kernel = dd._apss_bcast_dot(SimpleNamespace(value=table))

    def run(ia, ib):
        batch = pd.DataFrame({"id_a": [ia], "id_b": [ib]})
        return next(kernel(iter([batch])))["dot"].tolist()

    assert run(1, 3) == [6]
    for ia, ib in ((0, 3), (2, 3), (1, 4)):
        with pytest.raises(ValueError, match="missing"):
            run(ia, ib)


def test_apss_kernels_agree_on_one_batch():
    """The broadcast and join-plumbing APSS kernels return the same dot
    column for one batch: shared keys, no shared key, and an empty
    vector on either side."""
    from types import SimpleNamespace

    import numpy as np
    import pandas as pd

    vecs = {  # doc id -> (ascending keys, counts)
        1: ([3, 5, 9], [1, 2, 3]),
        2: ([5, 9, 11], [4, 1, 2]),
        3: ([1, 2], [7, 7]),
        4: ([], []),
    }
    ids = sorted(vecs)
    lens = [len(vecs[i][0]) for i in ids]
    table = tuple(
        np.array(a, dtype=np.int64)
        for a in (
            ids,
            np.concatenate(([0], np.cumsum(lens))),
            [k for i in ids for k in vecs[i][0]],
            [c for i in ids for c in vecs[i][1]],
        )
    )
    pairs = [(1, 2), (2, 1), (1, 3), (2, 3), (1, 4), (4, 2)]
    ia, ib = (np.array(side, dtype=np.int64) for side in zip(*pairs))

    def vec_col(side, j):
        return [np.array(vecs[i][j], dtype=np.int64) for i in side]

    bcast = next(
        dd._apss_bcast_dot(SimpleNamespace(value=table))(
            iter([pd.DataFrame({"id_a": ia, "id_b": ib})])
        )
    )
    joined = next(
        dd._apss_arrow_dot(
            iter(
                [
                    pd.DataFrame(
                        {
                            "id_a": ia,
                            "id_b": ib,
                            "_ka": vec_col(ia, 0),
                            "_ca": vec_col(ia, 1),
                            "_kb": vec_col(ib, 0),
                            "_cb": vec_col(ib, 1),
                        }
                    )
                ]
            )
        )
    )
    # 1·2: keys 5 and 9 shared → 2·4 + 3·1
    assert bcast["dot"].tolist() == [11, 11, 0, 0, 0, 0]
    assert joined["dot"].tolist() == bcast["dot"].tolist()
