"""Text analysis operators for LLM training-data pipelines.

All operators are pure Column expressions (whole-stage codegen, no
Python in the data path) over a string column — designed to run as one
projection pass over a 100 TB documents table. Where an operator feeds
the duckdb correctness oracle, the expression sticks to functions with
identical semantics in both engines (split/md5/filter/reduce on
lowercase space-separated tokens).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grafink_spark.util import pin

# tiny per-language stopword lists for the n-gram/stopword language
# heuristic; dict order is cosmetic — ties break to the
# lexicographically greatest lang code (see lang_id)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "nicht"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "por"],
}

DEFAULT_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization. ``split(trim(s), '\\s+')`` — empty string
    gives an empty array, not [''] (guarded)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_tokens(col_name: str) -> Column:
    """BPE-ish regex tokenization: runs of letters, runs of digits, or a
    single non-space symbol — the usual pre-tokenizer split. Takes a
    column name (goes through SQL for regexp_extract_all)."""
    return F.expr(
        f"regexp_extract_all(lower({col_name}), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"
    )


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, token stats, punctuation /
    stopword / digit ratios. Two stacked projections, zero shuffles —
    the token array is staged as a real column so the regex split runs
    once per row, not once per metric that mentions it (CollapseProject
    keeps non-cheap exprs staged)."""
    staged = df.select("*", tokens(text_col).alias("__toks"))
    t = F.col("__toks")
    n_tok = F.size(t)
    n_chars = F.length(F.col(text_col))
    punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    digits = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[0-9]", ""))
    sw = F.array(*[F.lit(w) for w in DEFAULT_STOPWORDS])
    sw_hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return staged.select(
        *df.columns,
        n_chars.alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        F.when(n_tok > 0, (n_chars - n_tok + 1) / n_tok)
        .otherwise(F.lit(0.0))
        .alias("avg_token_len"),
        F.when(n_chars > 0, punct / n_chars).otherwise(0.0).alias("punct_ratio"),
        F.when(n_chars > 0, digits / n_chars).otherwise(0.0).alias("digit_ratio"),
        F.when(n_tok > 0, sw_hits / n_tok)
        .otherwise(0.0)
        .alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score — a Gopher-rules-flavored heuristic:
    reasonable length, some stopwords, not mostly punctuation/digits."""
    m = quality_metrics(df, text_col)
    score = (
        F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100000), 0.25).otherwise(0.0)
        + F.when((F.col("avg_token_len") >= 2) & (F.col("avg_token_len") <= 12), 0.25).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.3, 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.01, 0.25).otherwise(0.0)
    )
    return m.withColumn("quality_score", score)


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language identification. Counts per-language
    stopword occurrences in one pass; argmax wins, zero hits → 'und'.
    Pure expressions → distributes trivially; a real model (fastText)
    would slot in as a Pandas UDF behind the same signature."""
    staged = df.select("*", tokens(text_col).alias("__lt"))
    t = F.col("__lt")  # staged once — 4 language filters share one split
    hit_cols = []
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hit_cols.append(
            F.struct(
                F.size(F.filter(t, lambda x: F.array_contains(arr, x))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # array_max on struct(hits, lang): max hits; equal hit counts tie-
    # break to the lexicographically GREATEST lang code (fr > es > en >
    # de) because struct comparison falls through to the second field.
    # array_max is order-insensitive, so input order can't change this;
    # the DuckDB oracle (benchqueries SQL_LANG_ID) encodes the same rule.
    best = F.array_max(F.array(*hit_cols))
    return staged.select(
        *df.columns,
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias(out_col),
    )


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "fingerprint",
    prefix_tokens: int = 16,
) -> DataFrame:
    """Document fingerprint: md5 over the normalized (lowercased,
    whitespace-collapsed) first-k tokens — a cheap rolling-hash-style
    near-identity key for prefix-duplicate detection."""
    t = tokens(F.lower(F.col(text_col)))
    norm = F.concat_ws(" ", F.slice(t, 1, prefix_tokens))
    return df.withColumn(out_col, F.md5(norm))


def document_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(token, df, doc_fraction): how many documents contain each
    distinct token. Per-row array_distinct BEFORE the explode keeps the
    shuffled volume at distinct-tokens-per-doc, and the groupBy count
    partial-aggregates map-side — one shuffle keyed by token."""
    n_docs = df.count()
    toks = df.select(
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token")
    )
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        (F.count(F.lit(1)) / F.lit(n_docs)).alias("doc_fraction"),
    )


def auto_stopwords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_fraction: float = 0.5,
) -> DataFrame:
    """Corpus-discovered stopwords: tokens appearing in at least
    ``min_doc_fraction`` of documents — the IDF-based vocabulary-pruning
    step a pipeline runs before TF-IDF/BM25 indexing."""
    return document_frequencies(df, text_col, id_col).where(
        F.col("doc_fraction") >= min_doc_fraction
    )


def normalize_text(col: Column | str) -> Column:
    """CCNet-style normalization ahead of hashing/dedup: lowercase,
    replace every non-alphanumeric rune with a space, collapse runs of
    whitespace, trim. Two documents differing only in case, punctuation
    or spacing normalize to the same string, which is the form exact
    and near dedup should hash (Wenzek et al., CCNet, 2020 — the
    deduplication is performed on normalized lowercase text).

    Pure JVM expressions (lower + 2 regexp_replace + trim) — narrow,
    codegen'd, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def zipf_fit(
    df: DataFrame, text_col: str = "text", top_n: int = 200
) -> DataFrame:
    """1-row Zipf-law fit of the corpus vocabulary: OLS of
    ln(frequency) on ln(rank) over the ``top_n`` most frequent tokens
    — natural corpora slope ≈ −1; a far-off slope flags synthetic,
    boilerplate-heavy, or truncated-vocabulary data, which makes this a
    standard corpus-health diagnostic.

    Output: (slope, intercept, r2, n_terms). Plan: one token explode +
    count shuffle (vocabulary-sized after map-side partials), a
    top_n rank (TakeOrdered — no global sort), then moment sums over
    top_n rows with DECIMAL addends so the fit is bit-identical in any
    engine."""
    from pyspark.sql import Window

    dec = "decimal(27,15)"
    counts = (
        df.select(F.explode(tokens(text_col)).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-n + driver merge); the rank window then runs over only the
    # surviving top_n rows. The previous row_number-then-filter form
    # sorted the ENTIRE vocabulary in one task before discarding it.
    ord_cols = [F.col("_c").desc(), F.col("_w").asc()]
    top = (
        counts.orderBy(*ord_cols)
        .limit(top_n)
        .withColumn("_r", F.row_number().over(Window.orderBy(*ord_cols)))
    )
    from grafink_spark.ops import decimal_moments

    xy = top.select(
        F.log(F.col("_r").cast("double")).alias("x"),
        F.log(F.col("_c").cast("double")).alias("y"),
    )
    m = decimal_moments(xy, dec)
    n, sx, sy, sxx, sxy, syy = [F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy", "syy")]
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r_num = n * sxy - sx * sy
    r2 = (r_num * r_num) / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    return m.select(
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
        n.cast("long").alias("n_terms"),
    )


def readability(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document:
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    syllables estimated as vowel-group count per word (min 1) and
    sentences as terminator-run count (min 1) — the standard cheap
    readability proxy used as a corpus quality signal (very low scores
    flag boilerplate/code, implausibly high ones flag word salad).

    Single narrow pass, all JVM expressions: one token split (staged),
    one regexp_extract_all per word for vowel groups, one for sentence
    terminators. Counts are exact integers, so the double formula and
    round(4) reproduce bit-for-bit in any engine."""
    t = tokens(F.col(text_col))
    staged = df.select(F.col(id_col), F.col(text_col), t.alias("_t"))
    syl = F.aggregate(
        F.transform(
            F.col("_t"),
            lambda w: F.greatest(
                F.lit(1),
                F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0)),
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    sents = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)),
    )
    words = F.size("_t")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syl.cast("double") / words.cast("double"))
    )
    return staged.where(words > 0).select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syl.alias("n_syllables"),
        F.round(flesch, 4).alias("flesch"),
    )


def ngram_multiset(col: Column | str, n: int = 2) -> Column:
    """Word n-grams WITH multiplicity (array, not set) — the multiset
    ROUGE counts clip against. Documents shorter than n tokens yield an
    empty array (ROUGE convention: no n-gram evidence)."""
    t = tokens(col)
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Crossover between rouge_overlap's two clip backends, in candidate
# pairs (the APSS_ARROW_VERIFY_MIN_CANDIDATES convention): the explode
# join wins at sf0.1's ~25k pairs (2.66 vs 2.94 s), the row-local map
# fold wins at sf1's 249k (9.5 vs 11.2 s, every alternated rep) — the
# geometric midpoint ~80k splits the measured regimes; 100k keeps a
# round number with margin on the join side, where the absolute stakes
# are sub-second.
ROUGE_MAP_CLIP_MIN_PAIRS = 100_000


def rouge_overlap(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_col: str = "id_a",
    cand_col: str = "id_b",
) -> DataFrame:
    """ROUGE-n precision/recall/F1 between document pairs (Lin, 2004) —
    the n-gram overlap eval metric, computed with CLIPPED multiset
    counts (each reference n-gram creditable at most as often as it
    occurs). ``pairs`` supplies (ref_col, cand_col) id pairs — e.g. LSH
    candidates, retrieval results, or generated-vs-source links.

    Plan: one explode + hash-agg builds per-doc n-gram count tables for
    ONLY the docs appearing in pairs (semi-join prune), then the clip
    runs through one of two value-identical backends gated on pair
    volume (``ROUGE_MAP_CLIP_MIN_PAIRS``): an equi join on (doc, gram)
    while pairs are sparse, a row-local map fold past the floor — work
    is Σ pair-gram overlap either way, never corpus×corpus. All counts
    are integers, so P/R/F1 are single IEEE divisions of exact
    integers — engine-identical before rounding. NOTE the pair-count
    gate makes construction EAGER (the pin below materializes first).

    Gram keys are 60-bit md5 hashes (r10, the ssjoin/APSS hash60
    idiom): the count table's shuffle, the two clip joins, and the
    per-pair comparisons ship 8-byte longs instead of n-gram strings,
    and the SQL oracle co-applies the identical hash so the result
    stays bit-defined over the hashed gram space. Collision trade,
    written out because clipped MULTISET counts merge on collision
    (unlike the set-membership the Jaccard family hashes): two
    distinct grams colliding merge their per-doc counts, which leaves
    ``n_ref``/``n_cand`` exactly unchanged (sums are preserved) and
    can only INCREASE ``clip`` for a pair containing both grams, by at
    most the smaller merged count (min is superadditive:
    min(a1+a2, b1+b2) ≥ min(a1,b1) + min(a2,b2)). Expected colliding
    gram pairs within one candidate pair's union of m distinct grams
    is C(m,2)/2^60 ≈ 1.7e-10 at m = 2·10^4; at the 100 TB design
    point (~10^12 scored pairs) that is ~10^2 pairs corpus-wide whose
    clip overcounts by a count of 1-2 grams — scores move by
    ≤ ~2/n_grams on those rows, and both engines merge identically,
    so cross-engine equality is unconditional.

    ``pairs`` and the gram-count table are each referenced by several
    joins below; without pinning, Catalyst would re-derive the full
    upstream subtree (e.g. a MinHash LSH candidate generator) once per
    reference — measured 14 parquet scans / 53 exchanges at sf0.01.
    Both are localCheckpointed, so the candidate generator and the
    gram aggregation run exactly once."""
    pairs = pairs.transform(pin)
    ids = (
        pairs.select(F.col(ref_col).alias("_d"))
        .union(pairs.select(F.col(cand_col).alias("_d")))
        .distinct()
    )
    # local import: dedup imports this module at top level (tokens), so
    # the hash60 dependency must resolve at call time, not import time
    from grafink_spark.llm.dedup import hash60

    g = (
        docs.join(ids, F.col(id_col) == F.col("_d"), "left_semi")
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(ngram_multiset(F.col(text_col), n)).alias("_g"),
        )
        .select("_doc", hash60(F.col("_g")).alias("g"))
        .groupBy("_doc", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    tot = g.groupBy("_doc").agg(F.sum("c").alias("ntot"))
    # Clip backend, gated on pair volume (r10): the join form explodes
    # each pair against its ref doc's FULL gram table (|pairs|·grams-
    # per-doc rows — 75M at sf1 for 249k pairs) and shuffles that for
    # the cand-side equi-join; the map form attaches per-doc gram-count
    # MAPS to the pairs (|pairs| rows at any scale; row size bounded by
    # the doc's distinct grams) and folds min(c_a, c_b) row-locally.
    # Both are exact integer arithmetic in any order, so the row sets
    # are bit-identical (proved: 248,979 sf1 rows equal). Measured crossover
    # (alternated same-session A/B): at sf1's 249k pairs the map form
    # wins every paired rep (11.2 → 9.5 s on rouge_pairs); at sf0.1's
    # ~25k pairs the per-doc map build costs more than the small
    # explode saves (2.66 → 2.94 s) — so the map engages above
    # ROUGE_MAP_CLIP_MIN_PAIRS. The count is a cached-scan aggregate
    # (pairs is pinned above, its checkpoint already materialized).
    # both backends clip each distinct pair once; the final left join
    # fans the clip back out to every copy of a pair listed twice
    uniq = pairs.select(ref_col, cand_col).distinct()
    if pairs.count() >= ROUGE_MAP_CLIP_MIN_PAIRS:
        vecs = g.groupBy("_doc").agg(
            F.map_from_entries(F.collect_list(F.struct("g", "c"))).alias(
                "_m"
            )
        )
        clip_col = F.aggregate(
            F.map_values(
                F.map_zip_with(
                    "_ma",
                    "_mb",
                    lambda k, x, y: F.when(
                        x.isNotNull() & y.isNotNull(), F.least(x, y)
                    ).otherwise(F.lit(0).cast("long")),
                )
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        ov = (
            uniq.join(
                vecs.select(
                    F.col("_doc").alias(ref_col), F.col("_m").alias("_ma")
                ),
                ref_col,
            )
            .join(
                vecs.select(
                    F.col("_doc").alias(cand_col), F.col("_m").alias("_mb")
                ),
                cand_col,
            )
            .select(ref_col, cand_col, clip_col.alias("clip"))
        )
    else:
        ov = (
            uniq.join(
                g.select(
                    F.col("_doc").alias(ref_col), "g", F.col("c").alias("_ca")
                ),
                ref_col,
            )
            .join(
                g.select(
                    F.col("_doc").alias(cand_col), "g", F.col("c").alias("_cb")
                ),
                [cand_col, "g"],
            )
            .groupBy(ref_col, cand_col)
            .agg(F.sum(F.least("_ca", "_cb")).alias("clip"))
        )
    out = (
        pairs.join(ov, [ref_col, cand_col], "left")
        .join(
            tot.select(F.col("_doc").alias(ref_col), F.col("ntot").alias("_na")),
            ref_col,
            "left",
        )
        .join(
            tot.select(F.col("_doc").alias(cand_col), F.col("ntot").alias("_nb")),
            cand_col,
            "left",
        )
        .select(
            ref_col,
            cand_col,
            F.coalesce("clip", F.lit(0)).alias("clip"),
            F.coalesce("_na", F.lit(0)).alias("n_ref"),
            F.coalesce("_nb", F.lit(0)).alias("n_cand"),
        )
    )
    p = F.when(F.col("n_cand") > 0, F.col("clip") / F.col("n_cand")).otherwise(
        F.lit(0.0)
    )
    r = F.when(F.col("n_ref") > 0, F.col("clip") / F.col("n_ref")).otherwise(
        F.lit(0.0)
    )
    f1 = F.when(
        (F.col("_p") + F.col("_r")) > 0,
        2.0 * F.col("_p") * F.col("_r") / (F.col("_p") + F.col("_r")),
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("_p", p)
        .withColumn("_r", r)
        .select(
            ref_col,
            cand_col,
            "clip",
            "n_ref",
            "n_cand",
            F.col("_p").alias("precision"),
            F.col("_r").alias("recall"),
            f1.alias("f1"),
        )
    )
