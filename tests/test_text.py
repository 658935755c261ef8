"""Text-analysis operators over small fixtures + the sf0.001 documents."""

import pytest
from pyspark.sql import functions as F

from grafink_spark.llm import text as tx

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "le chat est sur la table et le chien est la"),
    (3, ""),
    (4, "x"),
    (5, "der hund und die katze sind nicht da"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_token_count(spark, docs):
    got = {r.doc_id: r.n for r in docs.select("doc_id", tx.token_count("text").alias("n")).collect()}
    assert got == {1: 9, 2: 11, 3: 0, 4: 1, 5: 8}


def test_word_tokens_regex(spark):
    df = spark.createDataFrame([(1, "Hello, world! abc123 x")], "id long, text string")
    toks = df.select(tx.word_tokens("text").alias("t")).first().t
    assert toks == ["hello", ",", "world", "!", "abc", "123", "x"]


def test_quality_metrics_and_score(spark, docs):
    m = tx.quality_score(docs, "text")
    row = {r.doc_id: r for r in m.collect()}
    assert row[1].n_tokens == 9
    assert row[1].stopword_ratio > 0.2  # 'the' twice + 'over'
    assert row[3].n_tokens == 0 and row[3].quality_score <= 0.5
    assert row[1].quality_score == 1.0


def test_lang_id(spark, docs):
    got = {r.doc_id: r.lang_pred for r in tx.lang_id(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "fr"
    assert got[5] == "de"
    assert got[3] == "und"


def test_fingerprint_prefix_duplicates(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "A  b C d e f"),  # same after normalization
            (3, "totally different words here now ok"),
        ],
        "doc_id long, text string",
    )
    fp = tx.fingerprint(df, prefix_tokens=6)
    vals = {r.doc_id: r.fingerprint for r in fp.collect()}
    assert vals[1] == vals[2] != vals[3]


def test_on_real_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = tx.quality_score(tx.lang_id(docs), "text")
    assert out.count() == docs.count()
    assert out.where(F.col("n_tokens") <= 0).count() == 0


def test_document_frequencies_and_auto_stopwords(spark):
    from grafink_spark.llm.text import auto_stopwords, document_frequencies

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the dog ran ran"),   # 'ran' twice, counted once
            (3, "a the bird"),
            (4, "plain words only"),
        ],
        "doc_id long, text string",
    )
    freqs = {r.token: (r.df, r.doc_fraction) for r in document_frequencies(df).collect()}
    assert freqs["the"] == (3, 0.75)
    assert freqs["ran"] == (1, 0.25)  # distinct-per-doc before counting
    sw = {r.token for r in auto_stopwords(df, min_doc_fraction=0.75).collect()}
    assert sw == {"the"}


def test_normalize_text_golden(spark):
    from grafink_spark.llm.text import normalize_text

    df = spark.createDataFrame(
        [("  Hello,   WORLD!! 42 ",), ("hello world 42",), ("",)],
        "t string",
    )
    got = [r.n for r in df.select(normalize_text("t").alias("n")).collect()]
    # case/punct/whitespace variants collapse to the same form
    assert got == ["hello world 42", "hello world 42", ""]


def test_zipf_fit_recovers_power_law(spark):
    from grafink_spark.llm.text import zipf_fit

    # synthesize a corpus whose token frequencies follow freq ∝ 1/rank
    words = []
    for r in range(1, 51):
        words += [f"w{r:03d}"] * (1000 // r)
    text = " ".join(words)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = zipf_fit(docs, top_n=50).first()
    assert row.n_terms == 50
    assert -1.1 < row.slope < -0.9  # power-law exponent ≈ −1
    assert row.r2 > 0.99


def test_readability_golden(spark):
    """Hand-computed Flesch on a two-sentence doc; a no-terminator doc
    gets the 1-sentence floor."""
    from grafink_spark.llm.text import readability

    docs = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),
            (2, "word salad here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in readability(docs).collect()}
    r1 = got[1]
    # tokens: [The, cat, sat., The, dog, ran!] -> 6 words, 2 sentences,
    # syllables: each word has exactly one vowel group -> 6
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (6, 2, 6)
    assert r1.flesch == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 4)
    r2 = got[2]
    assert r2.n_sentences == 1  # floor, no terminators
    # word=1, salad=2 (a, a), here=2 (e, e) -> 5 syllables
    assert (r2.n_words, r2.n_syllables) == (3, 5)


def test_rouge_overlap_clipped_counts(spark):
    """ROUGE-2 with multiset clipping: a repeated reference bigram only
    credits up to its count in the candidate; P/R denominators are the
    sides' own bigram totals."""
    from grafink_spark.llm.text import rouge_overlap

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),   # bigrams: ab, ba, ab, bc  (ab x2)
            (2, "a b x"),       # bigrams: ab, bx
            (3, "p q"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    out = {(r.id_a, r.id_b): r for r in rouge_overlap(docs, pairs, n=2).collect()}
    r12 = out[(1, 2)]
    # clip = min(2,1)[a b] = 1; n_ref=4, n_cand=2
    assert (r12.clip, r12.n_ref, r12.n_cand) == (1, 4, 2)
    assert abs(r12.precision - 0.5) < 1e-12
    assert abs(r12.recall - 0.25) < 1e-12
    assert abs(r12.f1 - (2 * 0.5 * 0.25 / 0.75)) < 1e-12
    r13 = out[(1, 3)]
    assert (r13.clip, r13.precision, r13.recall, r13.f1) == (0, 0.0, 0.0, 0.0)


def test_rouge_overlap_short_doc_no_grams(spark):
    """A one-token side has zero bigrams -> all-zero metrics, no NaN."""
    from grafink_spark.llm.text import rouge_overlap

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = rouge_overlap(docs, pairs, n=2).collect()[0]
    assert (r.clip, r.n_ref, r.n_cand) == (0, 2, 0)
    assert (r.precision, r.recall, r.f1) == (0.0, 0.0, 0.0)


def test_rouge_overlap_map_clip_backend_identical(spark, monkeypatch):
    """The map-fold clip backend (forced by zeroing the r10
    pair-volume gate) returns the exact row set of the sparse
    explode-join backend — including zero-overlap and no-gram pairs,
    and a pair listed twice (one output row per input row)."""
    from grafink_spark.llm.text import rouge_overlap

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),
            (2, "a b x"),
            (3, "p q"),
            (4, "z"),  # no bigrams at all
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (1, 2)], "id_a long, id_b long"
    )
    join_rows = sorted(
        rouge_overlap(docs, pairs, n=2).collect(), key=lambda r: (r.id_a, r.id_b)
    )
    monkeypatch.setattr(tx, "ROUGE_MAP_CLIP_MIN_PAIRS", 0)
    map_rows = sorted(
        rouge_overlap(docs, pairs, n=2).collect(),
        key=lambda r: (r.id_a, r.id_b),
    )
    assert join_rows == map_rows
    assert len(map_rows) == 5
    # the repeated pair keeps its clip: min(2, 1) shared "a b" bigrams
    assert [r.clip for r in map_rows if (r.id_a, r.id_b) == (1, 2)] == [1, 1]
    # the map path really computed clips (not all-zero degenerate)
    by = {(r.id_a, r.id_b): r for r in map_rows}
    assert by[(1, 2)].clip == 1 and by[(1, 4)].clip == 0


def test_rouge_pairs_equal_an_unhashed_oracle(spark):
    """``rouge_overlap`` keys grams by 60-bit hashes and the registered
    oracle co-applies the same hash, so a collision would merge counts
    on both sides and pass that gate. This anchor runs the registered
    oracle over the raw gram strings instead, at sf0.01: the rows must
    still be equal."""
    import duckdb

    from grafink_spark import benchqueries as bq
    from tests.test_oracle_full import SF_DIR as sf

    hashed = "('0x' || substr(md5(g), 1, 15))::BIGINT AS g"
    assert hashed in bq.SQL_ROUGE_PAIRS
    cols = "id_a, id_b, clip, n_ref, n_cand, rouge_p, rouge_r, rouge_f1"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    raw = con.execute(
        f"SELECT {cols} FROM ({bq.SQL_ROUGE_PAIRS.replace(hashed, 'g')})"
    ).fetchall()
    got = [tuple(r) for r in bq.q_rouge_pairs(spark, sf).selectExpr(*cols.split(", ")).collect()]

    def norm(rows):
        return sorted(
            tuple(float(f"{v:.9g}") if isinstance(v, float) else v for v in r)
            for r in rows
        )

    assert norm(got) == norm(raw)
    assert raw and any(r[2] > 0 for r in raw)  # pairs that share grams
