"""Similarity classifier — theta self-join over alert pairs.

Reference: processor/edgerules/SimilarityClassifer.scala:44-108.

Semantics: current batch (side 1) is joined against loaded ∪ current
(side 2) with condition ``id1 > id2 AND <parsed expression>``; the
``id1 > id2`` both dedups unordered pairs and blocks self-pairs. The
edge property value counts how many column conditions hold for the
pair — one increment **per token occurrence** in the expression,
independent of AND/OR grouping (docs/classifiers/VertexClassifiers.md:48-50).

Scale design. The reference ships the raw theta join to Catalyst, which
(with a top-level OR) can only run a BroadcastNestedLoopJoin — its own
benchmark pays 47 min for 128M edges. We instead expand the expression
to DNF and run **one equi/hash join per OR-branch** (union + pair dedup):

- branch tokens with an equality between sides (cdsxmatch, objectId,
  any default ``<=>`` token) become hash-join keys Catalyst extracts;
- side-independent threshold tokens (rfscore > 0.9 …) become pushed-down
  filters on *both* inputs before the join, so a branch like
  ``rfscore`` joins two small filtered subsets instead of everything.

At 100 TB this is the difference between O(n·m) nested loops and a few
shuffled hash joins on pre-filtered inputs. Every expression takes this
plan; a single disjunct is one branch. The naive theta join survives
only in the tests, as the reference they compare against.

Output skew: an equality branch probes its join keys once
(``util.heavy_keys``, both sides counted) and sends keys held by at
least ``base.HOT_KEY_ROWS`` rows through a broadcast join when the
build side is small, else through ``ops.salted_join``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from grafink_spark.ops import salted_join
from grafink_spark.rules import base
from grafink_spark.rules.base import DST, PROP_VAL, SRC, ClassifierRule
from grafink_spark.util import (
    autobroadcast_threshold_bytes,
    heavy_keys,
    key_in,
    would_broadcast,
)
from grafink_spark.rules.exp_parser import (
    col_name_to_condition,
    expand_columns,
    parse_similarity_exp,
    to_dnf,
)


def _side_filter(token: str, side: int) -> Column | None:
    """Single-side pre-filter implied by a token's pair condition (the
    side-separable half), used to shrink join inputs. None → no filter."""
    c = F.col(f"{token}{side}")
    if token in ("rfscore", "snn_snia_vs_nonia"):
        return c > 0.9
    if token == "roid":
        return c > 1
    if token == "classtar":
        return (c > 0.9) | (c < 0.1)
    if token == "mulens":
        return (F.col(f"mulens_class_1{side}") == "ML") & (
            F.col(f"mulens_class_2{side}") == "ML"
        )
    if token == "cdsxmatch":
        return c != "Unknown" if side == 1 else None
    return None


class SimilarityClassifier(ClassifierRule):
    def __init__(self, similarity_exp: str):
        self.expression = similarity_exp
        self.parsed = parse_similarity_exp(similarity_exp)

    @property
    def name(self) -> str:
        return "similarityClassifier"

    @property
    def edge_label(self) -> str:
        return "similarity"

    @property
    def property_key(self) -> str:
        return "value"

    # ------------------------------------------------------------ plan

    def classify(self, loaded: DataFrame, current: DataFrame) -> DataFrame:
        """One join per OR-branch, branches made DISJOINT by adding
        ``NOT (earlier branch condition is true)`` residuals — the union
        needs no pair dedup (a dropDuplicates here would shuffle the
        full edge set, which dwarfs the join cost when the output is
        large). ``coalesce(cond, false)`` gives exact OR null semantics:
        a pair lands in the first branch whose condition is TRUE."""
        tokens = self.parsed.columns  # per-occurrence
        select_cols = ["id"] + expand_columns(tokens)

        df1 = current.select(
            *[F.col(c).alias(f"{c}1") for c in select_cols]
        )
        # side 2 = loaded ∪ current so new–new and new–old pairs both
        # materialize (SimilarityClassifer.scala:70-74)
        df2 = (
            loaded.select(*select_cols)
            .unionByName(current.select(*select_cols))
            .select(*[F.col(c).alias(f"{c}2") for c in select_cols])
        )

        # similarity value: +1 per token occurrence whose condition holds
        sim = reduce(
            lambda acc, t: acc
            + F.when(col_name_to_condition(t), 1).otherwise(0),
            tokens,
            F.lit(0),
        )

        out = None
        prev_not_true: list = []
        for d in to_dnf(self.parsed.ast):
            branch_cond = reduce(
                lambda a, t: a & col_name_to_condition(t), d.tokens, F.lit(True)
            )
            cond = (F.col("id1") > F.col("id2")) & branch_cond
            for nt in prev_not_true:
                cond = cond & nt
            left, right = df1, df2
            for t in d.tokens:
                f1 = _side_filter(t, 1)
                f2 = _side_filter(t, 2)
                if f1 is not None:
                    left = left.where(f1)
                if f2 is not None:
                    right = right.where(f2)
            # Catalyst extracts the equality terms of the conjunction as
            # hash-join keys (ExtractEquiJoinKeys); threshold-only
            # branches join pre-filtered subsets; the NOT-residuals of
            # earlier branches stay post-join filters (no extra shuffle).
            branch = self._branch_join(left, right, cond, d.equi_keys).select(
                F.col("id1").alias(SRC),
                F.col("id2").alias(DST),
                sim.cast(T.IntegerType()).alias(PROP_VAL),
            )
            out = branch if out is None else out.unionByName(branch)
            prev_not_true.append(~F.coalesce(branch_cond, F.lit(False)))
        return out

    def _branch_join(self, left, right, cond, equi_keys) -> DataFrame:
        """One OR-branch join, with output-skew salting for hot equality
        keys. A key with g members emits O(g²) pairs; the skew is in the
        join's OUTPUT, so AQE's (input-bytes-based) skew splitting never
        fires and one reducer pins the stage — measured 78 s for a
        40k-member objectId on local[32]. Keys held by at least
        ``base.HOT_KEY_ROWS`` rows (one ``heavy_keys`` probe on the
        already branch-filtered input) are split off: side 1 salted by
        ``hash(id1)`` and repartitioned on (keys, salt), side 2
        replicated to every salt — each qualifying pair joins exactly
        once, in side 1's bucket. Cold keys (and threshold-only
        branches, which have no join key) keep the plain join.
        Routing is consistent by construction: a qualifying pair has
        null-safe-equal key values on both sides, so both land hot or
        both cold."""
        eq_cols = list(dict.fromkeys(equi_keys))
        if not eq_cols:
            return left.join(right, cond, "inner")

        # count BOTH sides: a key hot only on the loaded/right side
        # (100 left rows x 1M right rows) still produces its whole
        # output in one partition if routing looks at the left alone
        keys_both = left.select(
            *[F.col(f"{c}1").alias(c) for c in eq_cols]
        ).unionByName(right.select(*[F.col(f"{c}2").alias(c) for c in eq_cols]))
        hot = heavy_keys(keys_both, base.HOT_KEY_ROWS)
        if not hot:
            return left.join(right, cond, "inner")

        # Hot keys exist — pick the remedy by the build side's size.
        # Under the session's autoBroadcastJoinThreshold the cheapest
        # safe plan is a broadcast hash join (no reducer for the hot
        # key's quadratic output to pin) plus ONE hash-repartition of
        # the probe side on its UNIQUE id1: an even spread by
        # construction, bounding any map task's hot output at
        # (g_hot / P) × g_build even when the input arrives with the
        # hot key clustered into a few scan splits (the stress
        # similarity_skew frame is exactly that shape — bare broadcast
        # would emit the whole hot block from one map task). Measured
        # on the skew stress: 4.9 s vs 8.3 s for the salted shuffle.
        # An r9 A/B taught the ordering here: running this plan
        # UNCONDITIONALLY (skipping detection whenever the build side
        # fits) made the repartition a pure extra shuffle on every
        # skew-free query — classifier sf1 2.38 s gated vs 1.19 s
        # detect-then-plain-join, because Catalyst already broadcasts
        # a sub-threshold side in the plain join with NO probe
        # shuffle. Detection (~0.5 s at sf1, one narrow scan +
        # partial agg) is the cheaper guard, so it stays
        # unconditional and the repartition fires only for data that
        # actually holds a hot key. Past the threshold — the 100 TB
        # regime — the salted shuffle below is the remedy.
        thr = autobroadcast_threshold_bytes(left.sparkSession)
        if thr is not None and would_broadcast(right, max_bytes=thr):
            return left.repartition(F.col("id1")).join(
                F.broadcast(right), cond, "inner"
            )

        keys1 = [f"{c}1" for c in eq_cols]
        hot1 = key_in(keys1, hot)
        hot2 = key_in([f"{c}2" for c in eq_cols], hot)
        cold = left.where(~hot1).join(right.where(~hot2), cond, "inner")
        salted = salted_join(
            left.where(hot1),
            right.where(hot2),
            cond,
            keys1,
            F.hash("id1"),
            base.salt_buckets(left.sparkSession),
        )
        return cold.unionByName(salted)
