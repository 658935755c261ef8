"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for 100 TB:

- **exact**: hash-groupBy on md5(text) — one shuffle keyed by a 128-bit
  hash (perfectly uniform, no skew), keeper = min(id).
- **MinHash + LSH**: signature and band keys are computed in a single
  narrow projection (arrays of md5 minima — all JVM expressions); the
  only shuffle is the explode+groupBy on band keys, and candidate pairs
  are generated per-bucket. No pairwise work outside buckets → cost is
  O(docs × hashes) + O(Σ bucket²) instead of O(docs²).
- **SimHash**: one 32-bit signature per doc via expression-level
  aggregate; near-dups = equal signatures (or banded Hamming buckets).
- **n-gram Jaccard**: exact verification on candidate pairs only
  (blocked or LSH-generated) — never all-pairs.
- **embedding cosine**: blocked all-pairs within a coarse key.

MinHash uses the universal-hash family min((a_i·h + b_i) mod P) over a
single 32-bit md5-derived base hash per shingle — one md5 per shingle
instead of hashes×shingles, with 31-bit seeded constants so every
product stays in exact BIGINT; integer-and-md5 expressions reproduce
bit-for-bit in the duckdb oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from grafink_spark.llm.text import tokens
from grafink_spark.util import (
    broadcast_max_bytes,
    ensure_min_partitions,
    maybe_broadcast,
    pin,
    pin_lazy,
)


# ------------------------------------------------------------- shingles


def shingles_from_tokens(t: Column, k: int = 3) -> Column:
    """k-shingles from a *pre-projected* token-array column (the token
    expression is referenced three times below — pass a column ref, not
    the tokenize expression, or the regex split runs 3x per row)."""
    n = F.size(t)
    full = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)),
    )
    return F.when(n >= k, full).otherwise(F.array(F.concat_ws(" ", t)))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-shingles as an array of strings (space-joined); documents
    shorter than k tokens yield a single shingle of all tokens."""
    return shingles_from_tokens(tokens(col), k)


# --------------------------------------------------------- exact dedup


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups: (content_hash, keeper_id, dup_count),
    only groups with >1 member. Keeper = min id."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .where(F.col("dup_count") > 1)
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per distinct text."""
    w_min = (
        df.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(F.min(id_col).alias("_keep"))
    )
    return (
        df.withColumn("_h", F.md5(F.col(text_col)))
        .join(w_min, "_h")
        .where(F.col(id_col) == F.col("_keep"))
        .drop("_h", "_keep")
    )


def normalized_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups AFTER normalization: (norm_hash,
    keeper_id, dup_count), groups with >1 member, keeper = min id.
    Same single-shuffle plan as :func:`exact_duplicates` — the md5 is
    over :func:`grafink_spark.llm.text.normalize_text`'s canonical
    form, so casing/punctuation/whitespace variants collapse into one
    group."""
    from grafink_spark.llm.text import normalize_text

    return (
        df.select(
            F.md5(normalize_text(F.col(text_col))).alias("norm_hash"),
            F.col(id_col),
        )
        .groupBy("norm_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .where(F.col("dup_count") > 1)
    )


# ------------------------------------------------------------- MinHash


# universal-hash minhash family: element i = min((a_i·h + b_i) mod P)
# over 32-bit shingle base hashes h. P is the smallest prime > 2^32;
# a_i, b_i are fixed seeded 31-BIT constants, so a·h + b < 2^63 — exact
# BIGINT arithmetic in both Spark (ANSI, overflow-checked) and DuckDB.
MINHASH_PRIME = 4294967311


def minhash_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs (seeded; a odd, both < 2^31 so the
    64-bit product can't overflow) — imported by the SQL oracle builder
    so both sides stay in sync."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, 1 << 31) | 1, rng.randrange(0, 1 << 31))
        for _ in range(num_hashes)
    ]


def shingle_hashes(sh: Column) -> Column:
    """32-bit base hash per shingle: first 8 hex chars of md5, as long.
    ONE md5 per shingle — stage this as a real column; the signature's
    num_hashes min-terms then reuse it with cheap integer mixing."""
    return F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )


def hash60(col: Column) -> Column:
    """60-bit md5 feature key: first 15 md5 hex chars as a long — the
    engine-portable idiom (DuckDB replays it as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``). The exact-verify
    family (ssjoin / APSS / the LSH-verified Jaccard skeleton) stores
    shingle SETS under these keys instead of strings: every verify
    join ships ~half the bytes and compares 8-byte longs, and the
    result stays bit-defined because both engines merge colliding
    shingles identically (~4e-5 expected collisions at a 10M-feature
    vocabulary). Expected collisions grow as V²/2^61 in vocabulary
    size V: at the 100 TB design point (V ≈ 10^11–10^12 shingles)
    that is ~10^4–10^5 colliding PAIRS corpus-wide — still at most
    one merged element in any one document's set, so per-pair scores
    move by ≤ 1/|set| — but "exact" means exact over the hashed
    space, not the raw strings. Because the SQL oracle co-applies
    the identical hash, the correctness gate is structurally blind
    to this trade; this docstring is the guardrail."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_set(sh: Column) -> Column:
    """Distinct 60-bit keys of a shingle array — the hashed SET the
    verify joins intersect (:func:`hash60` for the rationale)."""
    return F.array_distinct(F.transform(sh, hash60))


def signature_from_hashes(bh: Column, num_hashes: int = 16) -> Column:
    """MinHash signature from a *pre-projected* base-hash array column.

    Pass a plain column reference, not the shingle_hashes() expression:
    each of the ``num_hashes`` terms references ``bh``, so an inline
    expression tree would re-run the md5 scan num_hashes× per row."""

    def min_hash(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(bh, lambda h: (a * h + b) % MINHASH_PRIME)
        )

    return F.array(*[min_hash(a, b) for a, b in minhash_constants(num_hashes)])


def signature_from_shingles(sh: Column, num_hashes: int = 16) -> Column:
    """Signature straight from a shingle array — convenience for small
    inputs; the staged path (shingle_hashes → signature_from_hashes)
    is the one that evaluates md5 once per shingle."""
    return signature_from_hashes(shingle_hashes(sh), num_hashes)


def minhash_signature(
    col: Column | str, num_hashes: int = 16, k: int = 3
) -> Column:
    """Array of ``num_hashes`` minwise hashes over k-token shingles."""
    return signature_from_shingles(shingles(col, k), num_hashes)


def lsh_band_keys(signature: Column, bands: int, rows: int) -> Column:
    """Band keys: band j hashes signature[j*rows : (j+1)*rows]."""
    return F.array(
        *[
            F.md5(F.concat_ws("", F.slice(signature, j * rows + 1, rows)))
            for j in range(bands)
        ]
    )


def _band_keyed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    k: int,
    bands: int,
) -> DataFrame:
    """(_id, band, band_key) rows — the staged shingle → base-hash →
    signature → band pipeline shared by batch and incremental LSH."""
    rows = num_hashes // bands
    df = ensure_min_partitions(df)
    sh = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
    ).select("_id", shingles_from_tokens(F.col("_t"), k).alias("_sh"))
    bh = sh.select("_id", shingle_hashes(F.col("_sh")).alias("_bh"))
    sig = bh.select(
        "_id", signature_from_hashes(F.col("_bh"), num_hashes).alias("_sig")
    )
    return sig.select(
        "_id",
        F.posexplode(lsh_band_keys(F.col("_sig"), bands, rows)).alias(
            "band", "band_key"
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash
    LSH. rows = num_hashes // bands.

    Plan shape (the 100 TB path): shingles → signature → band keys are
    three *separate* projections so each expensive array is evaluated
    once per row (inlining them builds a tree where the shingle scan is
    re-evaluated hashes×bands times); then ONE shuffle groups ids by
    (band, band_key) and pairs explode per bucket — cost O(Σ bucket²)
    with no self-join and no second pass over the documents."""
    keyed = _band_keyed(df, text_col, id_col, num_hashes, k, bands)
    buckets = (
        keyed.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list("_id")).alias("_ids"))
        .where(F.size("_ids") > 1)
    )
    ids = F.col("_ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .distinct()
    )


# ----------------------------------------------------- n-gram Jaccard


def jaccard(
    sh_a: Column, sh_b: Column, assume_distinct: bool = False
) -> Column:
    """Jaccard similarity of two shingle arrays (as distinct sets).

    Per-pair cost (r9): |A∪B| is computed as |A| + |B| − |A∩B| —
    identical by inclusion–exclusion over the distinct sets — instead
    of building a second hash table with ``array_union``; and callers
    whose arrays are already distinct (``hash60_set`` output) pass
    ``assume_distinct=True`` to skip the two ``array_distinct``
    passes. Three O(|A|+|B|) set builds per pair become one."""
    if assume_distinct:
        da, db = sh_a, sh_b
    else:
        da, db = F.array_distinct(sh_a), F.array_distinct(sh_b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    block_by: list[str] | None = None,
    prune_to_candidates: bool = False,
) -> DataFrame:
    """Pairs with shingle-Jaccard ≥ threshold: (id_a, id_b, jaccard_sim).

    Pair generation is never all-pairs: pass ``candidates`` (id_a, id_b —
    e.g. from minhash_lsh_candidates) or ``block_by`` columns (equi-join
    blocking). Verification joins the shingle arrays back by id.

    ``prune_to_candidates``: semi-join the doc side to the candidate
    id set before building shingle sets — pays when candidates touch
    a small fraction of docs (the incremental new×corpus case:
    measured sf1 18.4 → 13.5 s); pure overhead when they touch most
    of the corpus (batch self-dedup: the same switch cost
    dedup_provenance +4 s), hence opt-in per call site."""
    paired = _paired_shingles(
        df, text_col, id_col, k, candidates, block_by, prune_to_candidates
    )
    return (
        paired.select(
            "id_a",
            "id_b",
            # _sh_a/_sh_b are hash60_set outputs — already distinct
            jaccard(
                F.col("_sh_a"), F.col("_sh_b"), assume_distinct=True
            ).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


def _paired_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    candidates: DataFrame | None,
    block_by: list[str] | None,
    prune_to_candidates: bool = False,
) -> DataFrame:
    """Candidate pairs joined back to their distinct k-shingle sets:
    (id_a, id_b, _sh_a, _sh_b). The shared verify skeleton under
    ngram_jaccard_pairs / containment_pairs — pairs come from an
    explicit candidate list or equi-join blocking, never all-pairs."""
    df = ensure_min_partitions(df)
    prune = prune_to_candidates and candidates is not None
    if prune:
        # Only candidate-TOUCHED documents need shingle sets (r9): the
        # default plan tokenizes + hashes the FULL corpus and ships
        # every document's set into the verify shuffle even when
        # candidates touch a small fraction of docs — exactly the
        # incremental case (new×corpus banding yields candidates over
        # the new batch plus its collisions, not the whole corpus).
        # Semi-joining the doc side to the candidate id set first
        # bounds the tokenize scan AND the set shuffle by touched
        # docs. The candidate frame now feeds three consumers (the
        # semi-join + both verify joins), so pin it — without the pin,
        # candidate generation (often a full LSH banding pass) would
        # re-run per consumer. Output is unchanged: the verify joins
        # were already inner on the candidate ids. Opt-in per call
        # site — measured A/B in the ngram_jaccard_pairs docstring.
        candidates = candidates.transform(pin_lazy)
        touched = (
            candidates.select(F.col("id_a").alias("__cand_id"))
            .union(candidates.select(F.col("id_b").alias("__cand_id")))
            .distinct()
        )
        df = df.join(
            touched, F.col(id_col) == F.col("__cand_id"), "left_semi"
        )
    # hashed sets (r8): the pair joins below ship every candidate's two
    # shingle sets — as 60-bit longs they cost half the bytes and the
    # array_intersect compares longs (see hash60; the oracles replay
    # the identical hash)
    sh = df.select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("_t"),
        *[F.col(c) for c in (block_by or [])],
    ).select(
        "_id",
        hash60_set(shingles_from_tokens(F.col("_t"), k)).alias("_sh"),
        *[F.col(c) for c in (block_by or [])],
    )
    if prune:
        # sh feeds BOTH verify joins — pinned, the semi-join + tokenize
        # + md5 pipeline runs once instead of once per side
        sh = sh.transform(pin_lazy)
    if candidates is None:
        if not block_by:
            raise ValueError("provide candidates or block_by (no all-pairs mode)")
        a = sh.select(
            *[F.col(c).alias(f"_b_{c}") for c in block_by],
            F.col("_id").alias("id_a"),
            F.col("_sh").alias("_sh_a"),
        )
        b = sh.select(
            *[F.col(c).alias(f"_b2_{c}") for c in block_by],
            F.col("_id").alias("id_b"),
            F.col("_sh").alias("_sh_b"),
        )
        cond = (F.col("id_a") < F.col("id_b"))
        for c in block_by:
            cond = cond & (F.col(f"_b_{c}") == F.col(f"_b2_{c}"))
        return a.join(b, cond, "inner")
    return (
        candidates.join(
            sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a")),
            "id_a",
        ).join(
            sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b")),
            "id_b",
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    block_by: list[str] | None = None,
) -> DataFrame:
    """Directional containment over distinct k-shingle sets:
    (id_a, id_b, containment_ab, containment_ba) for candidate pairs
    where ``max(containment_ab, containment_ba) >= threshold``, with
    containment_ab = |A ∩ B| / |A|.

    Catches what symmetric Jaccard misses: a short document EMBEDDED in
    a much larger one (quoted articles, concatenated crawl dumps,
    boilerplate supersets) has high containment of the small side but
    arbitrarily low Jaccard, so a Jaccard-thresholded dedup keeps both
    copies. The standard fix in web-scale corpus cleaning (Broder's
    containment from the original shingling work).

    Same non-all-pairs contract and plan shape as
    :func:`ngram_jaccard_pairs`: candidate pairs (LSH buckets or
    blocking keys) + two id equi-joins back to the shingle sets; the
    per-pair measure is array_intersect arithmetic — no UDFs."""
    paired = _paired_shingles(df, text_col, id_col, k, candidates, block_by)
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    c_ab = F.when(
        F.size("_sh_a") > 0, inter / F.size("_sh_a")
    ).otherwise(F.lit(0.0))
    c_ba = F.when(
        F.size("_sh_b") > 0, inter / F.size("_sh_b")
    ).otherwise(F.lit(0.0))
    return (
        paired.select(
            "id_a",
            "id_b",
            c_ab.alias("containment_ab"),
            c_ba.alias("containment_ba"),
        )
        .where(
            F.greatest(F.col("containment_ab"), F.col("containment_ba"))
            >= threshold
        )
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """Sketch-quality diagnostic: per candidate pair, the MinHash
    estimate of Jaccard (fraction of agreeing signature positions —
    the unbiased estimator the LSH banding is built on) NEXT TO the
    exact shingle Jaccard: (id_a, id_b, est_jaccard, exact_jaccard,
    abs_err). Lets a pipeline validate its num_hashes choice on real
    data before trusting bands at scale (stderr ~ sqrt(J(1-J)/h)).

    Plan: ONE staged per-doc projection carries both the shingle set
    and the signature, joined back to the candidate list by id on each
    side — no all-pairs, no UDFs, arithmetic identical in the SQL twin.
    """
    df = ensure_min_partitions(df)
    sh = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
    ).select(
        "_id",
        F.array_distinct(shingles_from_tokens(F.col("_t"), k)).alias("_sh"),
    )
    # stage base hashes as a real column: signature_from_hashes
    # references its input once per hash term, so an inline
    # shingle_hashes() would re-run the md5 scan num_hashes x per row.
    # The SIGNATURE keeps deriving from the 32-bit hashes of the
    # shingle STRINGS (the banding/oracle contract); only the exact-
    # verify set switches to 60-bit keys (hash60 — half the join bytes)
    bh = sh.select("_id", "_sh", shingle_hashes(F.col("_sh")).alias("_bh"))
    both = bh.select(
        "_id",
        hash60_set(F.col("_sh")).alias("_sh"),
        signature_from_hashes(F.col("_bh"), num_hashes).alias("_sig"),
    )
    paired = candidates.join(
        both.select(
            F.col("_id").alias("id_a"),
            F.col("_sh").alias("_sh_a"),
            F.col("_sig").alias("_sig_a"),
        ),
        "id_a",
    ).join(
        both.select(
            F.col("_id").alias("id_b"),
            F.col("_sh").alias("_sh_b"),
            F.col("_sig").alias("_sig_b"),
        ),
        "id_b",
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("_sig_a"), F.col("_sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    est = agree / F.lit(num_hashes)
    # _sh_a/_sh_b are hash60_set outputs — already distinct
    ex = jaccard(F.col("_sh_a"), F.col("_sh_b"), assume_distinct=True)
    return paired.select(
        "id_a",
        "id_b",
        est.alias("est_jaccard"),
        ex.alias("exact_jaccard"),
        F.abs(est - ex).alias("abs_err"),
    )


# -------------------------------------------------------------- SimHash


def simhash(col: Column | str, k: int = 3, bits: int = 32) -> Column:
    """SimHash signature as a Long: per shingle take a 32-bit hash
    (from md5 hex → integer), vote ±1 per bit weighted by nothing,
    signature bit b = 1 iff the vote sum is ≥ 0. Expression-level
    aggregate — no UDF."""
    sh = shingles(col, k)
    hval = lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")  # noqa: E731
    # hash each shingle ONCE — the vote lambda below references the hash
    # per bit, and an inline hval there would re-run md5 `bits` times
    # per shingle (measured 32x wasted md5 work)
    hashes = F.transform(sh, hval)
    # bit b of h == floor(h / 2^b) % 2 — shiftright/shiftleft take only
    # literal shift amounts, and 32-bit values are exact in doubles
    pow2 = lambda b: F.pow(F.lit(2.0), b).cast("long")  # noqa: E731
    bit = lambda h, b: (F.floor(h / pow2(b)) % 2).cast("int")  # noqa: E731
    votes = F.aggregate(
        hashes,
        F.array(*[F.lit(0)] * bits).cast("array<int>"),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda b: F.when(bit(h, b) == 1, 1).otherwise(-1),
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, b: F.when(v >= 0, pow2(b)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ max_hamming,
    found via banded bucketing: two signatures within distance d must
    share at least one of d+1 bands untouched (pigeonhole), so with
    bands > max_hamming the banded candidates are exhaustive — this is
    EXACT for the Hamming predicate, not approximate.

    Plan: signature (one projection) → explode band slices → ONE
    groupBy-bucket shuffle → per-bucket pairs → popcount(xor) verify.
    Returns (id_a, id_b, hamming_dist)."""
    if bands <= max_hamming:
        raise ValueError("need bands > max_hamming for exhaustive candidates")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sh = ensure_min_partitions(df).select(
        F.col(id_col).alias("_id"), simhash(F.col(text_col), k, bits).alias("_sig")
    )
    keyed = sh.select(
        "_id",
        "_sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("_sig"), j * band_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for j in range(bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    buckets = (
        keyed.groupBy("band", "band_val")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_id").alias("i"), F.col("_sig").alias("s")))
            ).alias("_ms")
        )
        .where(F.size("_ms") > 1)
    )
    ms = F.col("_ms")
    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), F.size(ms)),
                lambda y: F.struct(
                    x.getField("i").alias("id_a"),
                    y.getField("i").alias("id_b"),
                    F.bit_count(
                        x.getField("s").bitwiseXOR(y.getField("s"))
                    ).alias("hamming_dist"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("_p"))
        .select("_p.id_a", "_p.id_b", "_p.hamming_dist")
        .where(F.col("hamming_dist") <= max_hamming)
        .distinct()
    )


# ------------------------------------- near-dup clustering / dropping


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, component_id) for every id appearing in ``pairs``, where
    component_id = min id reachable in the undirected pair graph.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round hooks
    every node to the minimum of its neighborhood, converging in
    O(log n) rounds on ANY topology — a 1M-node path graph needs ~20
    rounds where plain min-label propagation needs 1M (its worst case
    silently truncated at max_iterations; VERDICT r1 item 4). Each
    round is two groupBy-min + join stages; a lineage cut per round
    (``localCheckpoint``, or reliable ``checkpoint(checkpoint_dir)``
    for executor-loss survivability) truncates the growing lineage (the classic iterative-
    algorithm hazard). Raises ConvergenceException if the edge set is
    still moving after ``max_iterations`` rounds instead of returning
    a silently-wrong labeling."""
    from grafink_spark.errors import ConvergenceException
    from grafink_spark.graph.algorithms import _cp

    e = pairs.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    ).where(F.col("a") != F.col("b"))
    # orient every undirected edge large→small; materialize ONCE so the
    # upstream pair pipeline (LSH + verify) is not re-executed per round
    edges = (
        e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .transform(_cp, checkpoint_dir)
    )
    converged = False
    # +1: convergence is only OBSERVABLE one round after the edge set
    # stops changing, so a graph whose last change happens on round
    # max_iterations needs a detection-only extra pass — without it a
    # correct final labeling would be discarded as "still moving"
    for _ in range(max_iterations + 1):
        # large-star: every node u links its LARGER neighbors to
        # m = min(Γ(u) ∪ {u})
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = both.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least(F.col("u"), F.col("_mn")).alias("m")
        )
        large = (
            both.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: every node u links its smaller neighbors (and
        # itself) to m = min(Γ(u) ∪ {u}); input is already large→small
        mins2 = large.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least(F.col("u"), F.col("_mn")).alias("m")
        )
        joined = large.join(mins2, "u")
        small = (
            joined.select(F.col("v").alias("x"), "m")
            .unionByName(mins2.select(F.col("u").alias("x"), "m"))
            .where(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .distinct()
            .transform(_cp, checkpoint_dir)
        )
        # fixpoint ⇔ identical edge set (both sides are distinct sets:
        # equal count + empty difference ⇒ equality)
        if small.count() == edges.count() and not small.subtract(edges).take(1):
            edges = small
            converged = True
            break
        edges = small
    if not converged:
        raise ConvergenceException(
            f"connected_components still moving after {max_iterations} "
            f"rounds — raise max_iterations (O(log n) rounds suffice; "
            f"this graph is pathologically large or adversarial)"
        )
    # fixpoint edges are stars (node → component min); add the roots
    return (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component_id"))
        .unionByName(
            edges.select(
                F.col("v").alias("doc_id"), F.col("v").alias("component_id")
            ).distinct()
        )
        .distinct()
    )


def drop_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The end-to-end near-dup pipeline: LSH candidates → Jaccard verify
    ≥ threshold → connected components → keep the min-id doc per
    component. Returns df minus non-keeper near-duplicates."""
    cand = minhash_lsh_candidates(df, text_col, id_col, num_hashes, k, bands)
    verified = ngram_jaccard_pairs(
        df, text_col, id_col, k, threshold, candidates=cand
    )
    comp = connected_components(verified)
    losers = comp.where(F.col("doc_id") != F.col("component_id")).select("doc_id")
    return df.join(
        losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def drop_near_duplicates_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup removal that keeps the BEST-scoring member of each
    duplicate cluster instead of the lowest id: LSH -> Jaccard verify ->
    connected components -> per-component argmax(``score_col``) (tie ->
    min id). This is how production corpus cleaning picks survivors —
    a near-dup cluster usually mixes a clean original with truncated or
    boilerplate-wrapped copies, and min-id keeps whichever was crawled
    first, not whichever is best.

    Plan: the component table is vertex-sized (only docs in some
    cluster); the keeper argmax is one hash aggregation on component_id
    over a component-and-score join, then one left-anti against df —
    no window over the full corpus."""
    cand = minhash_lsh_candidates(df, text_col, id_col, num_hashes, k, bands)
    verified = ngram_jaccard_pairs(
        df, text_col, id_col, k, threshold, candidates=cand
    )
    comp = connected_components(verified)
    # component-sized (only docs in some cluster); checkpointed because
    # both argmax phases read it — uncheckpointed, the join subtree
    # executes twice and the plan doubles its exchanges
    scored = comp.join(
        df.select(
            F.col(id_col).alias("doc_id"), F.col(score_col).alias("_score")
        ),
        "doc_id",
    ).transform(pin)
    # two-phase argmax (the mutual_best_match pattern): per-component
    # max score, then min id among rows achieving it. Both phases are
    # primitive-typed hash aggregations — max(struct)/max_by(struct)
    # would demote the stage to SortAggregate (structs aren't mutable
    # hash-buffer types), and the component table is re-read cheaply
    # because connected_components returns it checkpointed
    best = scored.groupBy("component_id").agg(F.max("_score").alias("_bs"))
    keepers = (
        scored.join(best, "component_id")
        .where(F.col("_score") == F.col("_bs"))
        .groupBy("component_id")
        .agg(F.min("doc_id").alias("_keep_id"))
        .select("_keep_id")
    )
    losers = comp.join(
        keepers, comp["doc_id"] == keepers["_keep_id"], "left_anti"
    ).select("doc_id")
    return df.join(
        losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


# ------------------------------------------------- embedding near-dup


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two float arrays — JVM-side aggregate/zip_with."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_by: str | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine ≥ threshold. ``block_by`` (e.g. a
    cluster/LSH-bucket column) bounds the pair space; without it this is
    a documented small-N path."""
    v = F.col(vec_col).cast("array<double>")
    # norm staged once per ROW: the pair-condition cosine then reuses it
    # across every pair the row participates in (same expression tree as
    # cosine_similarity, so the value is bit-identical — the oracle's
    # dot/(sqrt·sqrt) replay still matches)
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    cols = [
        F.col(id_col).alias("_id"),
        v.alias("_v"),
        norm.alias("_n"),
    ]
    if block_by:
        cols.append(F.col(block_by).alias("_blk"))
    base = df.select(*cols)
    a = base.select(
        *([F.col("_blk")] if block_by else []),
        F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = base.select(
        *([F.col("_blk").alias("_blk2")] if block_by else []),
        F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_by:
        cond = cond & (F.col("_blk") == F.col("_blk2"))
    dot = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))
    return (
        a.join(b, cond, "inner")
        .select("id_a", "id_b", cos.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )


def _arrow_within_cluster_dropped(
    assigned: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """b-side ids with a lower-id same-cluster neighbor at cosine ≥
    threshold, computed per cluster with numpy BLAS (one normalized
    gram matrix per cluster instead of per-pair interpreted folds).

    Memory: the matmul is row-blocked (1024 rows × cluster), so peak
    per-task memory is block × cluster floats even for a pinned-small
    nlist; cluster rows themselves must fit in one task (true by
    construction with the count-derived nlist default)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [assigned.schema[id_col]]
    )

    def per_cluster(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({id_col: pdf[id_col].iloc[:0]})
        order = pdf[id_col].to_numpy().argsort(kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        # vstack refuses vectors of different lengths: a ragged cluster
        # raises instead of returning survivors
        m = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()[order]]
        )
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0] = np.inf  # zero vectors: cosine treated as 0
        mn = m / norms[:, None]
        # strictly lower-id neighbors only: ids is sorted ascending, and
        # a row repeated under its own id is not its own neighbor
        first = np.searchsorted(ids, ids, side="left")
        dropped = np.zeros(n, dtype=bool)
        block = 1024
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            sims = mn[lo:hi] @ mn.T  # (block, n)
            for bi in range(hi - lo):
                i = lo + bi
                if (sims[bi, : first[i]] >= threshold).any():
                    dropped[i] = True
        return pd.DataFrame({id_col: ids[dropped]})

    return assigned.select(id_col, vec_col, "list_id").groupBy(
        "list_id"
    ).applyInPandas(per_cluster, out_schema)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int | None = None,
    iters: int = 1,
    threshold: float = 0.8,
    target_per_list: int = 1024,
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023): k-means the
    corpus into ``nlist`` clusters (deterministic seeded IVF training),
    compare pairs only WITHIN a cluster, and drop every vector that has
    a lower-id neighbor at cosine ≥ threshold — i.e. keep exactly one
    (the lowest-id) representative per ε-ball, deterministically.

    Returns the surviving rows with their ``list_id`` cluster column.

    At scale the cluster blocking is what makes this tractable: the
    pair space is Σ cluster², not N². Each cluster's pairs are one
    numpy/BLAS gram matrix (applyInPandas over list_id), so the drop
    rule needs only the dropped ids — an anti join, no connected
    components. The gram matrix and the SQL replay sum the dot product
    in different orders, so a cosine landing exactly on the threshold
    could flip.

    ``nlist`` defaults to count-derived: ``max(8, ceil(N /
    target_per_list))``, i.e. ~``target_per_list`` vectors per cluster
    — that keeps the per-vector pair work CONSTANT as the corpus grows
    (total cosine evaluations ≈ N × target_per_list, linear in N). A
    pinned ``nlist`` stays supported for reproducing a fixed blocking,
    but grows quadratically per cluster with corpus size — don't pin it
    at real scale."""
    from .simsearch import ivf_assign, ivf_train  # local: avoids cycle

    if nlist is None:
        n = df.count()
        nlist = max(8, -(-n // target_per_list))

    # ivf_assign fans a few-split input out to all cores itself, in the
    # training passes and the final assignment alike
    centroids = ivf_train(
        df, nlist=nlist, iters=iters, vec_col=vec_col, id_col=id_col
    )
    # two consumers (the per-cluster kernel + the survivor anti-join)
    # reuse the assignment — localCheckpoint materializes it once and,
    # unlike .cache(), its blocks are released when the DataFrame is
    # GC'd (a cache here leaked one pinned corpus copy per call)
    assigned = ivf_assign(df, centroids, vec_col).transform(pin)
    dropped = _arrow_within_cluster_dropped(assigned, vec_col, id_col, threshold)
    return assigned.join(dropped, on=id_col, how="left_anti")


def incremental_lsh_candidates(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs (id_a from the NEW batch, id_b from the
    existing corpus) that share any LSH band key — the daily-ingest
    pattern: only the new batch is banded against the historical side,
    never corpus×corpus.

    At scale the equi join on (band, band_key) shuffles each side once;
    the new batch is typically orders of magnitude smaller than the
    corpus, so the pair space is bounded by the new side's bucket
    membership."""
    kn = _band_keyed(new, text_col, id_col, num_hashes, k, bands).select(
        F.col("_id").alias("id_a"), "band", "band_key"
    )
    kc = _band_keyed(corpus, text_col, id_col, num_hashes, k, bands).select(
        F.col("_id").alias("id_b"), "band", "band_key"
    )
    return kn.join(kc, ["band", "band_key"]).select("id_a", "id_b").distinct()


def drop_incremental_near_duplicates(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """New-batch rows surviving dedup against BOTH the historical corpus
    (LSH candidates → Jaccard ≥ threshold → drop the new side) and then
    the batch itself (drop_near_duplicates). Ids must be unique across
    the two inputs.

    The verify prunes to candidate-touched docs (r9): candidates are
    new×corpus only, so only the new batch plus its band collisions —
    never the whole historical corpus — gets tokenized and shipped
    into the verify joins (measured sf1: 18.4 → 13.5 s; at the 100 TB
    design point the daily batch is orders of magnitude smaller than
    the corpus, so this bounds the verify by the batch, not the
    archive)."""
    cand = incremental_lsh_candidates(
        new, corpus, text_col, id_col, num_hashes, k, bands
    )
    both = new.select(F.col(id_col), F.col(text_col)).unionByName(
        corpus.select(F.col(id_col), F.col(text_col))
    )
    hits = ngram_jaccard_pairs(
        both, text_col, id_col, k, threshold, candidates=cand,
        prune_to_candidates=True,
    )
    dropped = hits.select(F.col("id_a").alias(id_col)).distinct()
    survivors = new.join(dropped, id_col, "left_anti")
    return drop_near_duplicates(
        survivors, text_col, id_col, num_hashes, k, bands, threshold
    )


# --------------------------------------------------------- chunk dedup


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 20,
) -> DataFrame:
    """C4/RefinedWeb-style chunk-level exact dedup: split every document
    into consecutive ``chunk_words``-token chunks, keep each distinct
    chunk only at its first corpus occurrence (lowest (id, position)),
    and rebuild documents from their surviving chunks. Documents whose
    chunks are all duplicates elsewhere disappear entirely.

    The natural unit is the paragraph/line (C4 dedups lines); with no
    newline structure the fixed token window is the equivalent —
    callers with newline-structured text can pre-split instead.

    Returns (id, n_chunks, n_kept, text) with text rebuilt in original
    chunk order from the kept chunks.

    Plan/scale: one narrow projection builds the chunk array per row
    (no join); the first-occurrence rank is ONE hash shuffle keyed by
    md5(chunk) — 128-bit uniform, skew-free even when one boilerplate
    chunk dominates, because identical chunks hash to one partition but
    the window only ranks them (no pairwise work). Reassembly is one
    groupBy(id) shuffle. Total: two shuffles, both linear in chunk
    count — the same shape C4 runs at web scale.
    """
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
    )
    n_chunks = F.ceil(F.size("_t") / F.lit(float(chunk_words))).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("_t"), i * chunk_words + 1, chunk_words)
        ),
    )
    chunks = t.where(F.size("_t") > 0).select(
        "_id", F.posexplode(chunk_arr).alias("_pos", "_chunk")
    )
    w = Window.partitionBy(F.md5(F.col("_chunk"))).orderBy("_id", "_pos")
    ranked = chunks.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias(
                "n_kept"
            ),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_rn") == 1, F.struct("_pos", "_chunk"))
                )
            ).alias("_kept"),
        )
        .where(F.col("n_kept") > 0)
        .select(
            F.col("_id").alias(id_col),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.array_join(
                F.transform("_kept", lambda s: s["_chunk"]), " "
            ).alias(text_col),
        )
    )


# -------------------------------------------------- edit-distance verify


def edit_distance_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ratio: float = 0.3,
    verify_partitions: int | None = None,
) -> DataFrame:
    """Character-level verification of candidate near-duplicate pairs:
    Levenshtein distance and its normalized ratio
    ``distance / greatest(len_a, len_b)``, filtered to
    ``edit_ratio <= max_ratio``. The strictest verifier in the family —
    O(len_a·len_b) per pair — so it only ever runs on a candidate set
    (LSH buckets, fingerprint collisions), never all-pairs.

    Plan/scale: two id equi-joins hydrate the texts (broadcast when the
    candidate set is small, shuffle hash otherwise — AQE picks), then
    the distance is a row-local JVM expression inside whole-stage
    codegen; no Python. The THRESHOLDED ``levenshtein(l, r, k)`` runs
    banded — O(k·len) per pair instead of O(len²) — and returns -1 past
    the bound, which is exactly the reject case; k is the per-pair
    bound ``floor(max_ratio · max_len)``.

    The hydrated pairs are explicitly repartitioned to
    ``verify_partitions`` (default: cluster parallelism) before the
    distance stage: the stage is CPU-bound at ~KB/row, so AQE's
    byte-based coalescing would otherwise squeeze it onto a handful of
    tasks and serialize the O(k·len) work (measured 6 tasks / 235 s at
    the sf1 bench vs full-width ~40 s). An explicit numbered
    repartition is exempt from AQE coalescing.

    The DP itself is minimized three ways (measured ~20× on the sf1
    near-dup workload, where Spark's levenshtein costs ~3 ms per
    900-char pair even banded):

    - **coarse prefix strip**: Levenshtein is invariant to removing a
      shared prefix; a power-of-two CASE of whole-substring equality
      checks (768/384/128 chars — each a cheap memcmp, so optimizer
      expression duplication is harmless, unlike a per-char LCP scan)
      drops the shared bulk of near-identical pairs before the DP;
    - **two-tier band**: a narrow pass (k=16) resolves true near-dups,
      only pairs past that bound escalate to the full
      ``floor(max_ratio·max_len)`` band — staged thresholds are exactly
      equivalent to one wide call;
    - **a localCheckpoint barrier after the distance column**: without
      it, alias inlining + filter pushdown re-evaluate the distance
      expression up to 4× (ratio numerator, two filter conjuncts,
      output column).
    """
    t = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    paired = (
        candidates.join(
            t.select(F.col("_id").alias("id_a"), F.col("_t").alias("_ta")),
            "id_a",
        ).join(
            t.select(F.col("_id").alias("id_b"), F.col("_t").alias("_tb")),
            "id_b",
        )
    )
    n_verify = (
        verify_partitions
        or candidates.sparkSession.sparkContext.defaultParallelism
    )
    paired = paired.repartition(n_verify)

    # coarse shared-prefix strip: each tier is one memcmp-style
    # substring equality, so these expressions stay cheap even when the
    # optimizer duplicates them into every reference site
    def _pfx_eq(n: int) -> str:
        return f"substring(_ta, 1, {n}) = substring(_tb, 1, {n})"

    p = (
        f"(CASE WHEN {_pfx_eq(768)} THEN 768 WHEN {_pfx_eq(384)} THEN 384 "
        f"WHEN {_pfx_eq(128)} THEN 128 ELSE 0 END)"
    )
    sa, sb = f"substring(_ta, {p} + 1)", f"substring(_tb, {p} + 1)"
    # per-pair full band from the ORIGINAL lengths (the Python API only
    # takes a literal threshold; the SQL expression accepts any int
    # expression), narrow escalation tier below it
    k_full = (
        "cast(floor(greatest(length(_ta), length(_tb))"
        f" * {float(max_ratio)!r}) as int)"
    )
    narrow = 16
    dist = F.expr(
        f"CASE WHEN {k_full} <= {narrow} THEN levenshtein({sa}, {sb}, {k_full}) "
        f"WHEN levenshtein({sa}, {sb}, {narrow}) >= 0 "
        f"THEN levenshtein({sa}, {sb}, {narrow}) "
        f"ELSE levenshtein({sa}, {sb}, {k_full}) END"
    )
    denom = F.greatest(F.length("_ta"), F.length("_tb"))
    # the barrier: materialize (ids, distance, denom) once — narrow
    # rows, pair-count-sized — so downstream ratio/filter reference the
    # stored value instead of inlining the DP expression 4×
    scored = paired.select(
        "id_a", "id_b", dist.alias("edit_distance"), denom.alias("_denom")
    ).transform(pin)
    return (
        scored.select(
            "id_a",
            "id_b",
            "edit_distance",
            F.when(F.col("_denom") > 0, F.col("edit_distance") / F.col("_denom"))
            .otherwise(F.lit(0.0))
            .alias("edit_ratio"),
        )
        # banded levenshtein reports -1 when the distance exceeds the
        # bound — the same rows the ratio filter would drop
        .where((F.col("edit_distance") >= 0) & (F.col("edit_ratio") <= max_ratio))
    )


def ngram_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Substring-level duplication signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    the fraction of its token n-gram windows that also occur in at
    least one OTHER document. Unlike doc-level MinHash this catches
    boilerplate and quoted spans inside otherwise-unique documents.

    Returns (id, total_windows, dup_windows, dup_fraction), one row per
    document with ≥ 1 window.

    Scale: windows are hashed to 60-bit ints (narrow shuffle rows, no
    gram strings on the wire). Single lineage — the tokenize/explode
    scan runs ONCE: (hash, doc) partial counts, then the per-hash doc
    count as a count-over-window on the already-aggregated rows (a join
    of two aggregates over the same subtree would defeat exchange reuse
    via column pruning and re-run the explode), then the per-doc
    rollup. Three shuffles, all linear in token count; a
    mega-duplicated gram (site boilerplate in millions of docs) is one
    window partition of doc-level rows, bounded by its doc count.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = F.when(
        F.size(F.col("_toks")) >= n,
        F.expr(
            f"transform(sequence(1, size(_toks) - {n} + 1), "
            f"i -> concat_ws(' ', slice(_toks, i, {n})))"
        ),
    ).otherwise(F.array())
    windows = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .select("_id", F.explode(grams).alias("_g"))
        .select(
            "_id",
            F.conv(F.substring(F.md5(F.col("_g")), 1, 15), 16, 10)
            .cast("long")
            .alias("_h"),
        )
    )
    per_doc_hash = windows.groupBy("_h", "_id").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    with_ndocs = per_doc_hash.withColumn(
        "_ndocs", F.count(F.lit(1)).over(Window.partitionBy("_h"))
    )
    return (
        with_ndocs.groupBy(F.col("_id").alias("id"))
        .agg(
            F.sum("_cnt").alias("total_windows"),
            F.sum(F.when(F.col("_ndocs") > 1, F.col("_cnt")).otherwise(0)).alias(
                "dup_windows"
            ),
        )
        .select(
            "id",
            "total_windows",
            "dup_windows",
            F.round(
                F.col("dup_windows") / F.col("total_windows").cast("double"), 6
            ).alias("dup_fraction"),
        )
    )


def semantic_contamination(
    corpus: DataFrame,
    test: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.8,
) -> DataFrame:
    """(id, n_hits, max_sim): corpus vectors with cosine ≥ ``threshold``
    to ANY test-set vector — embedding-level benchmark decontamination,
    the semantic sibling of the 8-gram :func:`~grafink_spark.llm.corpus.
    contamination` (catches paraphrased eval leakage that exact n-gram
    overlap misses).

    Plan/scale: eval sets are small (10²–10⁵ vectors) while the corpus
    is the 100 TB side, so the test side is BROADCAST and the whole
    check is one narrow pass over the corpus — corpus×test cosines with
    no shuffle at all; the only aggregation is per-corpus-id (map-side
    partials). For very large test sets swap the broadcast for the IVF
    blocking used by semantic_dedup. count/max aggregates are
    accumulation-order independent, so no decimal staging is needed."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    c = corpus.select(
        F.col(id_col).alias(id_col), v.alias("_vc"), norm.alias("_nc")
    )
    t = test.select(v.alias("_vt"), norm.alias("_nt"))
    dot = F.aggregate(
        F.zip_with(F.col("_vc"), F.col("_vt"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    denom = F.col("_nc") * F.col("_nt")
    cos = F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))
    return (
        c.crossJoin(F.broadcast(t))
        .select(id_col, cos.alias("_cs"))
        .where(F.col("_cs") >= threshold)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max("_cs").alias("max_sim"),
        )
    )


def strip_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Exact-substring dedup TRANSFORM (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): remove every token
    that lies inside a duplicated n-gram window — a window whose
    60-bit gram hash occurs more than once ANYWHERE in the corpus
    (across documents or repeated within one). Where
    :func:`ngram_span_coverage` only reports the duplication fraction,
    this returns the cleaned text a training pipeline actually feeds
    the tokenizer.

    Returns (id, n_tokens, n_removed, clean_text); documents shorter
    than ``n`` tokens pass through untouched (no windows).

    Scale: one tokenize/posexplode scan → narrow (hash, doc, pos)
    rows; the corpus-wide per-hash count is a count-over-window ON
    THOSE ROWS (one shuffle on the hash — the previous
    groupBy-then-join-back consumed the window rows twice, re-running
    the tokenize/md5 scan; measured 30.4 → 13.0 s at sf1); dup windows
    explode to ≤ n positions each, distinct-ed per (doc, pos); the
    per-doc covered-position set comes back as one sorted array
    (bounded by document length, never corpus size) and the rebuild is
    a single higher-order ``filter`` + ``array_join`` — no per-row
    Python. A mega-duplicated boilerplate gram's rows land in one
    window partition, bounded by its real occurrence count (same bound
    the old join key had).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    grams = F.when(
        F.size(F.col("_toks")) >= n,
        F.expr(
            f"transform(sequence(1, size(_toks) - {n} + 1), "
            f"i -> conv(substring(md5(concat_ws(' ', slice(_toks, i, {n}))), "
            "1, 15), 16, 10))"
        ),
    ).otherwise(F.array())
    win = base.select(
        "_id", F.posexplode(grams).alias("_i", "_hs")
    ).select("_id", "_i", F.col("_hs").cast("long").alias("_h"))
    dup = win.withColumn(
        "_c", F.count(F.lit(1)).over(Window.partitionBy("_h"))
    ).where(F.col("_c") > 1)
    cov = (
        dup.select(
            "_id",
            F.explode(F.expr(f"sequence(_i, _i + {n - 1})")).alias("_p"),
        )
        .distinct()
        .groupBy("_id")
        .agg(F.sort_array(F.collect_set("_p")).alias("_cov"))
    )
    return (
        base.join(cov, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.size("_toks").alias("n_tokens"),
            F.coalesce(F.size("_cov"), F.lit(0)).alias("n_removed"),
            F.array_join(
                F.expr(
                    "filter(_toks, (t, j) -> _cov IS NULL "
                    "OR NOT array_contains(_cov, j))"
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def dedup_provenance(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    k: int = 3,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    span_n: int = 5,
    span_threshold: float = 0.5,
) -> DataFrame:
    """Per-document dedup PROVENANCE report — for every document, which
    dedup family would drop it and why: exact (non-min id of an
    identical-text group), near (non-min id of a Jaccard-verified LSH
    component), and substring (fraction of ``span_n``-gram windows
    shared with at least one OTHER document — cross-document coverage,
    :func:`ngram_span_coverage` — at or above ``span_threshold``;
    within-document repeats are :func:`strip_dup_spans`'s job). ``verdict`` names the FIRST matching
    reason in that precedence order, or ``keep``. The report answers
    the "why did my document disappear" question a corpus pipeline
    owner asks before trusting an end-to-end drop.

    Returns (id, exact_dup, near_dup, dup_span_frac, verdict) — one
    row per input document.

    Scale: each signal is the existing bounded-shuffle operator
    (hash-groupBy / banded LSH + verify + O(log n) components / hashed
    windows); composition adds only vertex-sized left joins keyed on
    the document id. Nothing here introduces pairwise work beyond what
    the underlying operators already bound."""
    ids = df.select(F.col(id_col).alias("_id"))
    ex = (
        df.select(
            F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("_h")
        )
        .withColumn("_keep", F.min("_id").over(Window.partitionBy("_h")))
        .select("_id", (F.col("_id") != F.col("_keep")).alias("exact_dup"))
    )
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes=num_hashes, k=k, bands=bands
    )
    verified = ngram_jaccard_pairs(
        df, text_col, id_col, k=k,
        threshold=jaccard_threshold, candidates=cand,
    )
    comp = connected_components(verified).select(
        F.col("doc_id").alias("_id"),
        (F.col("component_id") < F.col("doc_id")).alias("_nd"),
    )
    spans = ngram_span_coverage(df, id_col, text_col, n=span_n).select(
        F.col("id").alias("_id"), F.col("dup_fraction").alias("_frac")
    )
    return (
        ids.join(ex, "_id")
        .join(comp, "_id", "left")
        .join(spans, "_id", "left")
        .select(
            F.col("_id").alias("id"),
            "exact_dup",
            F.coalesce(F.col("_nd"), F.lit(False)).alias("near_dup"),
            F.coalesce(F.round("_frac", 6), F.lit(0.0)).alias(
                "dup_span_frac"
            ),
            F.when(F.col("exact_dup"), F.lit("exact"))
            .when(F.coalesce(F.col("_nd"), F.lit(False)), F.lit("near"))
            .when(
                F.coalesce(F.col("_frac"), F.lit(0.0)) >= span_threshold,
                F.lit("substring"),
            )
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
    )


def set_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity self-join over distinct k-shingle sets —
    every pair with Jaccard ≥ ``threshold``, guaranteed (prefix
    filtering, the PPJoin family: Chaudhuri et al. ICDE'06 / Xiao et
    al. WWW'08). Where the MinHash-LSH path trades recall for speed,
    this is LOSSLESS: a pair at J ≥ t must share at least one token of
    each side's (n − ⌈t·n⌉ + 1)-length prefix under any fixed global
    token order (pigeonhole over the ≥ ⌈t·n⌉ required overlap), so
    blocking on prefix tokens misses nothing. The oracle replays the
    FULL all-pairs join — the correctness row certifies losslessness,
    not just candidate agreement.

    Returns (id_a, id_b, jaccard_sim), id_a < id_b.

    The shingle SETS are 60-bit md5 keys end-to-end (r8): both engines
    apply the identical hash, so the Jaccard is bit-defined over the
    hashed space; distinct shingles colliding (~vanishing at 60 bits)
    merge into one set element in both engines — the same trade
    :func:`weighted_cosine_join` makes.

    Scale: the global order is rarity-first (document frequency asc,
    60-bit shingle hash as tie-break) — prefixes hold a document's
    RAREST shingles, so bucket sizes track how often rare shingles
    repeat, not corpus size. One shuffle for the frequency table, one
    for the per-doc re-sort, one for the prefix buckets, then
    candidate verification joins the shingle sets back by id (pairs
    only — never all-pairs). A boilerplate-heavy corpus shifts its
    common shingles out of every prefix automatically.

    Verify is Catalyst ``array_intersect`` over the hashed sets,
    joined onto the candidate pairs. A numpy searchsorted kernel (the
    APSS sibling's) was measured and dropped: the native intersect won
    at sf1 under both broadcast and join plumbing (same-session
    alternated A/B r9: 12.5-14.2 s vs 18.0-24.8 s) and at sf0.1 —
    ssjoin verifies ~12.1M sf1 candidates, so per-pair Python dispatch
    outweighs the Arrow-byte saving."""
    return _ssjoin_frames(df, text_col, id_col, k, threshold)["out"]


def _ssjoin_frames(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> dict[str, DataFrame]:
    """:func:`set_similarity_join` staged: ``prefix_pairs`` (distinct
    pairs sharing a prefix token), ``candidates`` (after the PPJoin
    length filter — exactly the pairs that pay a full set-intersection
    verify), ``out`` (pairs passing the threshold). The stages exist so
    filter EFFECTIVENESS is measurable (:func:`ssjoin_filter_stats`) —
    a lossless join whose prefix filter stops discriminating silently
    degrades to all-pairs, and nothing in the timing alone says so."""
    from grafink_spark.llm.text import tokens as _tokens

    base = (
        df.select(
            F.col(id_col).alias("_id"), _tokens(F.col(text_col)).alias("_t")
        )
        .select(
            "_id",
            # the shingle SET lives as 60-bit md5 keys end-to-end (r8):
            # the prefix machinery below always hashed, but the verify
            # intersected shingle STRINGS — hashing once here (hash60)
            # makes the verify compare 8-byte longs (and the arrays it
            # ships half the bytes), and drops the second md5 scan the
            # old `tok` projection paid. Measured sf1 best-of-3:
            # 29.5 → 14.5 s.
            hash60_set(shingles_from_tokens(F.col("_t"), k)).alias("_s"),
        )
    )
    base = base.transform(pin_lazy)
    tok = base.select("_id", F.explode("_s").alias("_h"))
    # r10 (guide §2.4, same rewrite as the APSS sibling): document
    # frequency as a WINDOW count over the _h partition instead of a
    # separate aggregation joined back onto tok — one Exchange of the
    # token rows instead of two (the agg's and the join's). _df values
    # are identical integers, so the rarity order (and therefore every
    # prefix, candidate, and output row) is unchanged.
    from pyspark.sql import Window as _W

    ordered = (
        tok.withColumn(
            "_df", F.count(F.lit(1)).over(_W.partitionBy("_h"))
        )
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_h")))
            ).alias("_arr")
        )
    )
    n = F.size("_arr")
    p = (n - F.ceil(F.lit(float(threshold)) * n) + 1).cast("int")
    # prefix rows carry the token's 1-based POSITION in the rarity
    # order and the set size — the candidate join is a prefix×prefix
    # equi self-join on the token (streams a hot token's pairs through
    # a sort-merge join instead of materializing its whole bucket in
    # one collect_list row — the old plan's row-size/skew hazard),
    # filtered in place
    prefix = ordered.select(
        "_id",
        n.alias("_n"),
        F.posexplode(
            F.slice(F.expr("transform(_arr, x -> x._h)"), 1, p)
        ).alias("_pos", "_h"),
    ).select("_id", "_n", (F.col("_pos") + 1).alias("_i"), "_h")
    pa = prefix.select(
        "_h",
        F.col("_id").alias("id_a"),
        F.col("_i").alias("_ia"),
        F.col("_n").alias("_na"),
    )
    pb = prefix.select(
        "_h",
        F.col("_id").alias("id_b"),
        F.col("_i").alias("_ib"),
        F.col("_n").alias("_nb"),
    )
    t = float(threshold)
    raw = pa.join(pb, "_h").where(F.col("id_a") < F.col("id_b"))
    prefix_pairs = raw.select("id_a", "id_b").distinct()
    # length filter (PPJoin): J >= t forces t*max(na,nb) <= min(na,nb)
    length_ok = F.least("_na", "_nb").cast("double") >= F.lit(t) * F.greatest(
        "_na", "_nb"
    )
    # positional filter (PPJoin+, Xiao et al. WWW'08): at a shared
    # prefix token sitting at 1-based positions (i, j) of the rarity
    # orders, the overlap is bounded by 1 + min(na-i, nb-j) (everything
    # before the match on each side is disjoint by "first match", the
    # rest can overlap at most pairwise). J >= t needs overlap O with
    # O·(1+t) >= t·(na+nb); a qualifying pair's FIRST shared prefix
    # token always passes, so dropping rows that fail loses nothing.
    # The 1e-9 slack only ever KEEPS borderline rows (float t), so
    # losslessness is unconditional; for exactly-representable t (0.5)
    # every product is exact and the slack is inert.
    ubound = 1 + F.least(
        F.col("_na") - F.col("_ia"), F.col("_nb") - F.col("_ib")
    )
    positional_ok = (
        ubound.cast("double") * F.lit(1.0 + t)
        >= F.lit(t) * (F.col("_na") + F.col("_nb")).cast("double") - F.lit(1e-9)
    )
    cand = (
        raw.where(length_ok & positional_ok)
        .select("id_a", "id_b")
        .distinct()
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )
    return {"prefix_pairs": prefix_pairs, "candidates": cand, "out": out}


def ssjoin_filter_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> dict[str, int]:
    """Prefix-filter effectiveness counters for
    :func:`set_similarity_join` — ``n_docs``, ``all_pairs`` (the
    C(n,2) a filterless join would verify), ``prefix_pairs``,
    ``candidates`` (post length filter = pairs actually verified) and
    ``emitted``. Diagnostics pass, NOT part of the timed query: the
    bench harness records these per round so a degrading prefix
    (template-heavy corpora, shrinking vocabulary) is visible as a
    rising candidates/emitted ratio rather than an unexplained
    slowdown. Shared stages run once (base is lazily checkpointed
    inside the builder)."""
    frames = _ssjoin_frames(df, text_col, id_col, k, threshold)
    n = df.count()
    return {
        "n_docs": n,
        "all_pairs": n * (n - 1) // 2,
        "prefix_pairs": frames["prefix_pairs"].count(),
        "candidates": frames["candidates"].count(),
        "emitted": frames["out"].count(),
    }


# ------------------------------------------ Arrow verify kernels (r9)
#
# The APSS verify's scale cost is the per-pair dot product, not
# candidate generation (prefix-filtered, measured per round via
# filter_stats). Catalyst's map fold ran it in the interpreter at
# ~µs/entry; these kernels do the same integer-exact work in numpy over
# Arrow-shipped sorted 60-bit key arrays — per pair, ONE C-level
# ``searchsorted`` plus a masked product-sum (:func:`_sparse_dot`),
# ~10 µs/pair of Python dispatch around C array ops. Measured on a
# 10k-pair × 300-entry batch: 0.10 s/batch (a batch-global dense-rank
# composite + one searchsorted variant benched 0.75 s — the global sort
# over every flattened entry costs more than the per-row loop it saves;
# with ~300-entry sides the Python overhead is already amortized by the
# row's C work).


def _sparse_dot(ka, ca, kb, cb) -> int:
    """Σ ca·cb over the keys two sparse vectors share: ``ka``/``kb``
    are ascending, distinct int64 key arrays and ``ca``/``cb`` their
    int64 counts. Integer-exact (int64 products and sum, never float
    accumulation), so every caller's rows are bit-identical to the join
    backend's."""
    if not len(ka) or not len(kb):
        return 0
    idx = kb.searchsorted(ka)
    idx[idx == len(kb)] = len(kb) - 1
    m = kb[idx] == ka
    return int((ca[m] * cb[idx[m]]).sum())


def _apss_bcast_dot(bc):
    """Factory for the BROADCAST variant of the APSS arrow kernel:
    the whole vector table rides to every worker ONCE via ``bc``, and
    the mapInPandas input is the bare candidate frame (id_a, id_b) —
    16 bytes/pair through Arrow instead of two full vector copies per
    pair (~50x fewer fresh Arrow/JVM bytes at sf1: 85 MB vs ~9.5 GB
    for 5.3 M candidates x ~53 terms). Same :func:`_sparse_dot` as
    :func:`_apss_arrow_dot`, so the row set is bit-identical.

    ``bc`` holds FOUR flat int64 arrays ``(uids, offs, keys, counts)``
    — doc ids ascending, per-doc offset fences, and the concatenated
    per-doc ascending key/count vectors (r10; previously a dict of
    100k small numpy arrays whose pickle/unpickle cost ~100k fresh
    allocations PER WORKER — the exact shape this host's first-touch
    collapse punishes 30-100x, and the measured mechanism behind the
    49-95 s driver-run outliers). Unpickling is now four contiguous
    buffer copies; per-pair vectors are zero-copy slice views; the
    id→row lookup is one vectorized searchsorted per batch.

    Size-gated by the caller: broadcast plumbing only while the whole
    vector table fits the engine-wide broadcast bound
    (``spark.grafink.broadcastMaxBytes``); past it the
    candidate-bounded join plumbing runs instead — at the 100 TB
    design point (10^9+ docs) the table cannot ship whole, and
    pair-bounded joins are the scale path."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        uids, offs, keys, counts = bc.value
        for pdf in batches:
            ia = pdf["id_a"].to_numpy()
            ib = pdf["id_b"].to_numpy()
            # candidate ids come from prefix ⊂ tc, so every id is
            # present in uids and searchsorted is an exact lookup; an
            # absent id would dot against its neighbour's vector, so
            # the invariant is checked, not trusted
            pa = np.searchsorted(uids, ia)
            pb = np.searchsorted(uids, ib)
            for pos, ids in ((pa, ia), (pb, ib)):
                found = pos < len(uids)
                found[found] = uids[pos[found]] == ids[found]
                if not found.all():
                    raise ValueError(
                        "APSS broadcast kernel: candidate ids missing "
                        f"from the vector table: {ids[~found][:5].tolist()}"
                    )
            sa, ea = offs[pa], offs[pa + 1]
            sb, eb = offs[pb], offs[pb + 1]
            dot = np.array(
                [
                    _sparse_dot(
                        keys[sa[i]:ea[i]],
                        counts[sa[i]:ea[i]],
                        keys[sb[i]:eb[i]],
                        counts[sb[i]:eb[i]],
                    )
                    for i in range(len(pdf))
                ],
                dtype=np.int64,
            )
            yield pd.DataFrame({"id_a": ia, "id_b": ib, "dot": dot})

    return gen


def _apss_arrow_dot(batches):
    """mapInPandas kernel for the APSS ``verify="arrow"`` join
    plumbing: rows (id_a, id_b, _ka, _ca, _kb, _cb) → (id_a, id_b,
    dot) with dot = :func:`_sparse_dot` of the two vectors."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        dot = np.array(
            [
                _sparse_dot(
                    np.asarray(ka),
                    np.asarray(ca, dtype=np.int64),
                    np.asarray(kb),
                    np.asarray(cb, dtype=np.int64),
                )
                for ka, ca, kb, cb in zip(
                    pdf["_ka"], pdf["_ca"], pdf["_kb"], pdf["_cb"]
                )
            ],
            dtype=np.int64,
        )
        yield pd.DataFrame(
            {
                "id_a": pdf["id_a"].to_numpy(),
                "id_b": pdf["id_b"].to_numpy(),
                "dot": dot,
            }
        )


def weighted_cosine_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: tuple[int, int] = (7, 10),
    k: int | None = None,
    verify: str = "auto",
) -> DataFrame:
    """EXACT cosine set-similarity self-join over term-COUNT vectors —
    every pair with cosine ≥ num/den, guaranteed (the AllPairs/APSS
    prefix-filter family: Bayardo et al. WWW'07, weighted sibling of
    :func:`set_similarity_join`). LOSSLESS by the first-shared-term
    argument: order every document's terms by a fixed global order
    (document frequency asc, term asc — rarest first); if a pair's
    first shared term sits outside either side's prefix, ALL shared
    terms sit in that side's suffix, so by Cauchy-Schwarz
    cos ≤ ‖suffix‖/‖doc‖ < t. Hence blocking on (term ∈ prefix(a)) ∧
    (term ∈ prefix(b)) misses nothing, and the oracle certifies that
    by replaying the FULL all-pairs term join.

    The threshold is a RATIONAL (num, den), and every comparison is
    integer arithmetic: prefix keeps position i while
    den²·(T − S_i) ≥ num²·T (T = Σc², S_i = squared norm before i), and
    the verify keeps a pair iff den²·dot² ≥ num²·T_a·T_b — zero float
    threshold hazard in either engine (comparisons run in DECIMAL(38)
    so giant documents can't overflow). Reported cosine is the single
    IEEE expression dot/√(T_a·T_b) of exact integers.

    Returns (id_a, id_b, dot, t_a, t_b, cosine_sim), id_a < id_b.

    Features are 60-bit md5-hashed term keys (r8): both engines apply
    the identical hash, so the result is bit-defined over the hashed
    space; distinct terms colliding (≈4e-5 expected collisions at a
    10M-term vocabulary) merge into one count — the same trade the
    Jaccard sibling makes with 32-bit shingle hashes.

    Scale: one shuffle for term counts, one for the df table join +
    per-doc window, one for prefix buckets; verification joins the
    candidate pairs back to the count table — pairs only, never
    all-pairs. Stopword-heavy mass sits LAST in the canonical order,
    so ubiquitous terms leave every prefix as soon as the rare head
    carries ≥ (1−t²) of the norm.

    ``verify`` picks the dot-product backend — both produce identical
    integer-exact rows (asserted by ``test_dedup.py``):

    - ``"join"``: explode the candidate pairs against the per-term
      count table and sum products. Cost ∝ |candidates|·terms-per-doc
      rows through one shuffle — cheapest while candidates are sparse.
    - ``"arrow"``: numpy searchsorted dots over Arrow batches. While the
      per-doc sorted key/count vector table (16 bytes per entry) fits
      the engine-wide broadcast bound (``spark.grafink.broadcastMaxBytes``,
      :func:`util.broadcast_max_bytes`) it is BROADCAST once per worker
      and only the bare (id_a, id_b) pairs stream through Arrow
      (:func:`_apss_bcast_dot` — ~50x fewer freshly allocated bytes
      than attaching vectors to every pair); past the bound the vectors
      join onto the candidate pairs (:func:`_apss_arrow_dot` —
      candidate-bounded movement, never |candidates|·terms exploded
      rows). The 100 TB verify backend.
    - ``"auto"`` (default): pin the candidate frame, count it, and
      gate on :data:`APSS_ARROW_VERIFY_MIN_CANDIDATES` — ``"join"``
      below the floor, ``"arrow"`` at or above it. The count is not
      wasted work — the pin means candidate generation runs once
      either way, and at the design point where counting anything is
      expensive the gate resolves to the batched backend exactly
      because the count is large. NOTE the pin makes auto-mode
      construction EAGER (the gate's count runs at build time) and
      its checkpoint blocks live until the returned frame is GC'd;
      callers that only want a plan should pass an explicit
      backend."""
    return _apss_frames(df, text_col, id_col, threshold, k, verify)["out"]


# Candidate-pair floor at which auto verify switches from join to
# arrow. Join moves |candidates|·terms-per-doc exploded rows, arrow
# |candidates| pairs plus a per-worker vector table, so join wins while
# candidates are few. Alternated same-session A/B of apss_cosine (auto,
# resolves to join) vs apss_cosine_arrow, 4-core host, median of reps
# 2-7: sf0.01 (25 candidates) 2.16 vs 2.39 s, join faster in 6/6
# pairs; sf0.1 (61k) 4.46 vs 4.38 s, arrow faster in 4/6 — a tie. At
# sf1 (5.3M candidates) arrow is the production path (r9). The floor
# sits above the measured tie with an order of magnitude to spare
# below sf1.
APSS_ARROW_VERIFY_MIN_CANDIDATES = 500_000


def _apss_frames(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: tuple[int, int] = (7, 10),
    k: int | None = None,
    verify: str = "auto",
) -> dict[str, DataFrame]:
    """:func:`weighted_cosine_join` staged: ``candidates`` (distinct
    pairs surviving prefix × positional filtering — the pairs whose
    full dot product is computed) and ``out``. Stages exposed for
    :func:`apss_filter_stats` — same rationale as the PPJoin sibling."""
    from pyspark.sql import Window

    from grafink_spark.llm.text import tokens as _tokens

    num, den = threshold
    base = df.select(
        F.col(id_col).alias("_id"), _tokens(F.col(text_col)).alias("_t")
    )
    # feature space: unigram tokens (k=None) or k-shingle MULTISETS.
    # On template-heavy corpora unigram vocabularies are tiny and every
    # document's "rarest" terms are still ubiquitous, so prefix
    # filtering can't discriminate (measured: one prefix bucket held
    # 76% of sf0.1 docs → 38M candidates). Shingles explode the
    # vocabulary, making the rarity-first prefix selective again —
    # same trick the exact Jaccard join (set_similarity_join) relies on.
    feats = (
        base.select("_id", F.explode("_t").alias("_term"))
        if k is None
        else base.select(
            "_id",
            F.explode(shingles_from_tokens(F.col("_t"), k)).alias("_term"),
        )
    )
    # 60-bit md5 feature keys (same engine-portable idiom as the
    # Jaccard sibling's 32-bit shingle hashes, 2^28× more headroom):
    # every downstream stage — the term-count shuffle, the df join,
    # the rarity-order window sort, the prefix×prefix candidate join,
    # and the verify's per-pair vectors — keys on
    # an 8-byte long instead of a shingle string (measured sf1
    # alternating A/B, best-of-2: 44.9 → 39.7 s, ~11%). Colliding
    # terms MERGE into one feature identically in both engines (the
    # oracle applies the same hash), so the output stays bit-defined;
    # expected collisions at a 10M-term vocabulary are ~4e-5.
    feats = feats.select("_id", hash60(F.col("_term")).alias("_term"))
    tc = (
        feats.groupBy("_id", "_term")
        .agg(F.count(F.lit(1)).alias("_c"))
        .transform(pin_lazy)
    )
    # pinned for the OUT verification joins (t_a/t_b); the ranked
    # pipeline below no longer joins it (window form, r10)
    tot = tc.groupBy("_id").agg(
        F.sum(F.col("_c") * F.col("_c")).alias("_tt")
    ).transform(pin_lazy)
    # r10 (guide §2.4 "share one exchange"): document frequency and the
    # squared norm were separate aggregations joined back onto tc
    # (freq: one Exchange for the agg + an SMJ shuffle of tc; tot: a
    # second join). Both are plain per-partition quantities, so compute
    # them as WINDOW aggregates over the exchanges the ranked pipeline
    # already pays: _df = count over the _term partition, _tt = sum
    # over the _id partition the running-sum window sorts anyway. Two
    # Exchanges of tc total instead of four — measured sf1 alternated
    # A/B (min of 4): candidates 6.72 → 5.26 s; the candidate set is
    # row-identical at sf0.1 and sf1 (long-integer counts/sums —
    # bit-exact under any grouping).
    wi = Window.partitionBy("_id").orderBy(
        F.col("_df").asc(), F.col("_term").asc()
    )
    ranked = (
        tc.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("_term"))
        )
        .withColumn(
            "_tt",
            F.sum(F.col("_c") * F.col("_c")).over(Window.partitionBy("_id")),
        )
        .withColumn(
            "_s",
            F.coalesce(
                F.sum(F.col("_c") * F.col("_c")).over(
                    wi.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    dec = "decimal(38,0)"
    # prefix feeds BOTH sides of the candidate self-join — pin it, or
    # the window chain upstream re-executes once per branch (measured
    # 22 s -> ~13 s at sf0.1 together with the tot pin above)
    prefix = ranked.where(
        F.lit(den * den).cast(dec) * (F.col("_tt") - F.col("_s")).cast(dec)
        >= F.lit(num * num).cast(dec) * F.col("_tt").cast(dec)
    ).select("_id", "_term", "_s", "_tt").transform(pin_lazy)
    # Candidate generation is a prefix×prefix equi self-join on the
    # term (streams pairs through a sort-merge join — a hot term never
    # materializes its whole bucket in one row), sharpened by the
    # POSITIONAL filter: for the pair's FIRST shared term, Cauchy-
    # Schwarz over the two suffixes gives cos² ≤ (T_a−S_i)(T_b−S_j) /
    # (T_a·T_b). A qualifying pair always has its first-shared-term row
    # in this join and that row passes the bound, so dropping the rows
    # that fail it (matches deep in BOTH prefixes) loses nothing.
    pa = prefix.select(
        F.col("_term"),
        F.col("_id").alias("id_a"),
        F.col("_s").alias("_sa"),
        F.col("_tt").alias("_ta"),
    )
    pb = prefix.select(
        F.col("_term"),
        F.col("_id").alias("id_b"),
        F.col("_s").alias("_sb"),
        F.col("_tt").alias("_tb"),
    )
    cand = (
        pa.join(pb, "_term")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.lit(den * den).cast(dec)
            * (F.col("_ta") - F.col("_sa")).cast(dec)
            * (F.col("_tb") - F.col("_sb")).cast(dec)
            >= F.lit(num * num).cast(dec)
            * F.col("_ta").cast(dec)
            * F.col("_tb").cast(dec)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Verification backend (see weighted_cosine_join docstring). Both
    # are integer-exact in any order, so the all-pairs SQL oracle is
    # untouched by the choice.
    if verify not in ("auto", "join", "arrow"):
        raise ValueError(f"verify must be auto|join|arrow, got {verify!r}")
    if verify == "auto":
        # pin so candidate generation (the prefix pipeline — the
        # expensive subtree) runs ONCE: the gate's count materializes
        # the checkpoint, the verify join below reuses it. NOTE this
        # makes auto-mode construction EAGER (the count runs at build
        # time, like the IVF family's count-derived nlist); callers
        # that only want a plan should pass an explicit backend.
        cand = cand.transform(pin_lazy)
        verify = (
            "arrow"
            if cand.count() >= APSS_ARROW_VERIFY_MIN_CANDIDATES
            else "join"
        )
    if verify == "join":
        # sparse-candidate backend: explode the pairs against the
        # per-term count table, sum products through one shuffle —
        # |cand|·terms-per-doc rows, cheapest while candidates are few
        dots = (
            cand.join(
                tc.select(
                    F.col("_id").alias("id_a"),
                    "_term",
                    F.col("_c").alias("_ca"),
                ),
                "id_a",
            )
            .join(
                tc.select(
                    F.col("_id").alias("id_b"),
                    "_term",
                    F.col("_c").alias("_cb"),
                ),
                ["id_b", "_term"],
            )
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("dot"))
        )
    elif verify == "arrow":
        # batched scale backend (r9): per-doc SORTED (key array, count
        # array) vectors feeding a numpy searchsorted dot kernel. Two
        # plumbings, one kernel family, identical int64 rows:
        #   - BROADCAST (16 bytes per key+count entry, within the
        #     engine-wide broadcast bound): ship the whole table to
        #     each worker once and stream only (id_a, id_b) through Arrow
        #     (:func:`_apss_bcast_dot`) — ~50x fewer freshly
        #     allocated Arrow/JVM bytes than joining vectors onto
        #     pairs (measured mechanism: this box's first-touch page
        #     faults intermittently run 30-100x slow, so allocation-
        #     lean is weather-robust, see bench.py memweather).
        #   - JOIN (past the gate): join the vectors onto the
        #     candidate pairs and batch the dots
        #     (:func:`_apss_arrow_dot`) — candidate-bounded data
        #     movement, never |cand|·terms exploded rows; the 100 TB
        #     path where no vector table fits one executor.
        # tc is pinned (and already materialized on the auto path), so
        # this count is a cached-scan aggregate, not a recompute
        if 16 * tc.count() <= broadcast_max_bytes(df.sparkSession):
            import numpy as np

            # FLAT vector table (r10): skip the per-doc collect_list
            # aggregation entirely — order the pinned (id, term, count)
            # rows and let the Arrow toPandas transfer hand over three
            # contiguous int64 columns. Offsets come from one
            # vectorized boundary scan; the broadcast ships four flat
            # buffers instead of a dict of ~2 numpy arrays per doc
            # (whose pickle/unpickle churned ~100k small allocations
            # per worker — see _apss_bcast_dot). orderBy(_id, _term)
            # gives every doc's keys ascending, which the searchsorted
            # kernel requires.
            vdf = (
                tc.select("_id", "_term", "_c")
                .orderBy("_id", "_term")
                .toPandas()
            )
            ids_all = vdf["_id"].to_numpy()
            keys_flat = np.ascontiguousarray(
                vdf["_term"].to_numpy(), dtype=np.int64
            )
            counts_flat = np.ascontiguousarray(
                vdf["_c"].to_numpy(), dtype=np.int64
            )
            bound = np.flatnonzero(np.diff(ids_all)) + 1
            offs = np.concatenate(
                ([0], bound, [len(ids_all)])
            ).astype(np.int64)
            if len(ids_all):
                uids = np.ascontiguousarray(
                    ids_all[offs[:-1]], dtype=np.int64
                )
            else:  # empty corpus: no fences beyond the [0, 0] pair
                uids = np.empty(0, dtype=np.int64)
            bc = df.sparkSession.sparkContext.broadcast(
                (uids, offs, keys_flat, counts_flat)
            )
            dots = cand.mapInPandas(
                _apss_bcast_dot(bc), schema="id_a long, id_b long, dot long"
            ).where(F.col("dot") > 0)
        else:
            # join plumbing (past the gate): per-doc sorted vectors
            # attach to the candidate pairs — candidate-bounded data
            # movement, the 100 TB path
            arr = tc.groupBy("_id").agg(
                F.array_sort(
                    F.collect_list(F.struct("_term", "_c"))
                ).alias("_a")
            ).select(
                "_id",
                F.expr("transform(_a, x -> x._term)").alias("_ks"),
                F.expr("transform(_a, x -> x._c)").alias("_cs"),
            )
            a = arr.select(
                F.col("_id").alias("id_a"),
                F.col("_ks").alias("_ka"),
                F.col("_cs").alias("_ca"),
            )
            b = arr.select(
                F.col("_id").alias("id_b"),
                F.col("_ks").alias("_kb"),
                F.col("_cs").alias("_cb"),
            )
            dots = (
                cand.join(a, "id_a")
                .join(b, "id_b")
                .mapInPandas(
                    _apss_arrow_dot, schema="id_a long, id_b long, dot long"
                )
                .where(F.col("dot") > 0)
            )
    out = (
        dots.join(
            tot.select(F.col("_id").alias("id_a"), F.col("_tt").alias("t_a")),
            "id_a",
        )
        .join(
            tot.select(F.col("_id").alias("id_b"), F.col("_tt").alias("t_b")),
            "id_b",
        )
        .where(
            F.lit(den * den).cast(dec)
            * F.col("dot").cast(dec)
            * F.col("dot").cast(dec)
            >= F.lit(num * num).cast(dec)
            * F.col("t_a").cast(dec)
            * F.col("t_b").cast(dec)
        )
    )
    final = out.select(
        "id_a",
        "id_b",
        "dot",
        "t_a",
        "t_b",
        (
            F.col("dot")
            / F.sqrt((F.col("t_a") * F.col("t_b")).cast("double"))
        ).alias("cosine_sim"),
    )
    return {"candidates": cand, "out": final}


def apss_filter_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: tuple[int, int] = (7, 10),
    k: int | None = None,
) -> dict[str, int]:
    """Prefix+positional-filter effectiveness counters for
    :func:`weighted_cosine_join`: ``n_docs``, ``all_pairs``,
    ``candidates`` (pairs whose dot product is actually computed),
    ``emitted``. Diagnostics pass, recorded per bench round — see
    :func:`ssjoin_filter_stats`."""
    frames = _apss_frames(df, text_col, id_col, threshold, k)
    n = df.count()
    return {
        "n_docs": n,
        "all_pairs": n * (n - 1) // 2,
        "candidates": frames["candidates"].count(),
        "emitted": frames["out"].count(),
    }


def semantic_contamination_ivf(
    corpus: DataFrame,
    test: DataFrame,
    nlist: int = 8,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.8,
) -> DataFrame:
    """IVF-blocked :func:`semantic_contamination` — the scale path the
    exact version documents for test sets too large to broadcast-cross:
    centroids train on the CORPUS (deterministic ivf_train), corpus
    vectors assign to one list each, every TEST vector probes its
    ``nprobe`` nearest lists, and cosines run only inside matched
    lists — pair work is Σ|list|·(probes landing there) instead of
    |corpus|·|test|. Recall is bounded by the probes (raise nprobe →
    exact at nprobe=nlist); the hit counts/sims for found pairs are
    identical to the exact pass."""
    from grafink_spark.llm.simsearch import (
        _ivf_query_probes,
        ivf_assign,
        ivf_train,
    )

    centroids = ivf_train(corpus, nlist=nlist, iters=1, vec_col=vec_col, id_col=id_col)
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    c = ivf_assign(corpus, centroids, vec_col).select(
        id_col, "list_id", v.alias("_vc"), norm.alias("_ncn")
    )
    t = _ivf_query_probes(test, centroids, nprobe, vec_col, id_col).select(
        "list_id",
        F.col("_qv").alias("_vt"),
        F.sqrt(
            F.aggregate(F.col("_qv"), F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("_ntn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_vc"), F.col("_vt"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    denom = F.col("_ncn") * F.col("_ntn")
    # zero-norm guard: 0/0 is NaN in Spark and NaN compares GREATER
    # than any number, so an unguarded zero vector would always pass
    # the threshold (the exact sibling guards identically)
    cs = F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))
    # the probe side is the BENCHMARK (decontamination contract:
    # test << corpus) — size-gated broadcast turns the list_id join
    # into a corpus-stream with no shuffle; proxied on the raw test
    # frame because the probes derive through the centroid crossJoin
    return (
        c.join(
            maybe_broadcast(t, size_proxy=test, proxy_scale=nprobe),
            "list_id",
        )
        .select(id_col, cs.alias("_cs"))
        .where(F.col("_cs") >= threshold)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max("_cs").alias("max_sim"),
        )
    )
