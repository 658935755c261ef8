"""Same-value classifier — connect vertices sharing a column value.

Reference: processor/edgerules/SameValueClassifier.scala:31-62. For each
configured column:

- **new × new clique**: every unordered pair of current-batch vertices
  with equal column values (reference: groupByKey + combinations(2));
- **new × old pairs**: equi join of current against loaded on the column
  (src = new id, dst = loaded id);

edge label ``exactmatch``, propVal = the **column name**.

Spark-first design: the clique is a self equi-join with ``src < dst``
instead of collecting each group — semantically identical to
combinations(2) over id-sorted groups, but it streams through a
sort-merge join rather than materializing a whole group in one task
(a 1M-member group would OOM a collect_list; the join just produces its
pairs). Null keys: the reference groups nulls together (flatMapGroups),
so the clique join is null-safe; the new×old join is a plain equi join
(nulls dropped), also matching the reference.

**Output-skew salting.** A hot key with g members emits C(g,2) pairs —
and because the skew is in the join's OUTPUT, not its input bytes,
AQE's skew-join splitting never fires (it triggers on input partition
size; a 40k-member group is ~1 MB of input but 800M output rows, and
one task pins the stage — measured 88 s vs 9 s at the skew-stress
scale, grafink_spark/stress.py). So keys held by at least
``base.HOT_KEY_ROWS`` rows, new and old counted together, take
``ops.salted_join``: the src side is bucketed by ``hash(id)`` into
``base.salt_buckets`` buckets, the dst side is replicated to every
bucket, and each unordered pair is still produced exactly once (in
src's bucket). Hot-key detection is one ``util.heavy_keys`` probe per
column, and the hot/cold split is a narrow literal predicate
(``util.key_in``, no extra joins). Cold keys keep the plain
single-join plan. The same hot set salts the new×old join (same
quadratic failure mode when a key is hot on both sides)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafink_spark.ops import salted_join
from grafink_spark.rules import base
from grafink_spark.rules.base import DST, PROP_VAL, SRC, ClassifierRule
from grafink_spark.util import heavy_keys, key_in


class SameValueClassifier(ClassifierRule):
    def __init__(self, cols_to_connect: list[str]):
        if not cols_to_connect:
            raise ValueError("sameValueClassifier needs at least one column")
        self.cols_to_connect = list(cols_to_connect)

    @property
    def name(self) -> str:
        return "sameValueClassifier"

    @property
    def edge_label(self) -> str:
        return "exactmatch"

    @property
    def property_key(self) -> str:
        return "propertyname"

    def classify(self, loaded: DataFrame, current: DataFrame) -> DataFrame:
        outs = [
            self._edges_for_column(loaded, current, c) for c in self.cols_to_connect
        ]
        return reduce(lambda a, b: a.unionByName(b), outs)

    def _edges_for_column(
        self, loaded: DataFrame, current: DataFrame, column: str
    ) -> DataFrame:
        new = current.select(F.col(column).alias("_k"), F.col("id"))
        old = loaded.select(F.col(column).alias("_k"), F.col("id").alias(DST))

        # Hot keys are collected to the driver so literal isin() filters
        # keep the split NARROW — a join-based split would re-execute
        # the count-agg subplan once per semi/anti join (measured 3× on
        # the samevalue bench queries). Count BOTH sides: a key hot only
        # in the loaded/old table still produces its whole new x old
        # output in one partition if routing looks at the new side alone
        hot = heavy_keys(
            new.select("_k").unionByName(old.select("_k")), base.HOT_KEY_ROWS
        )
        if not hot:
            return self._plain_clique(new, column).unionByName(
                self._plain_cross(new, old, column)
            )
        is_hot = key_in(["_k"], hot)
        new_hot = new.where(is_hot)
        old_hot = old.where(is_hot)
        n_buckets = base.salt_buckets(current.sparkSession)

        def edges(df: DataFrame) -> DataFrame:
            return df.select(SRC, DST, F.lit(column).alias(PROP_VAL))

        # hot clique: pair (i, j) joins only in i's bucket → produced
        # exactly once; null keys form a clique, as in the plain join
        src = new_hot.select("_k", F.col("id").alias(SRC))
        hot_clique = salted_join(
            src,
            new_hot.select(F.col("_k").alias("_k2"), F.col("id").alias(DST)),
            F.col("_k").eqNullSafe(F.col("_k2")) & (F.col(SRC) < F.col(DST)),
            ["_k"],
            F.hash(SRC),
            n_buckets,
        )
        # hot new×old: quadratic when a key is hot on both sides
        hot_cross = salted_join(
            src.where(F.col("_k").isNotNull()),
            old_hot.select(F.col("_k").alias("_k2"), DST),
            F.col("_k") == F.col("_k2"),
            ["_k"],
            F.hash(SRC),
            n_buckets,
        )
        new_cold = new.where(~is_hot)
        return (
            self._plain_clique(new_cold, column)
            .unionByName(edges(hot_clique))
            .unionByName(self._plain_cross(new_cold, old.where(~is_hot), column))
            .unionByName(edges(hot_cross))
        )

    @staticmethod
    def _plain_clique(new: DataFrame, column: str) -> DataFrame:
        a = new.select(F.col("_k"), F.col("id").alias(SRC))
        b = new.select(F.col("_k").alias("_k2"), F.col("id").alias(DST))
        return (
            a.join(
                b,
                F.col("_k").eqNullSafe(F.col("_k2")) & (F.col(SRC) < F.col(DST)),
                "inner",
            )
            .select(SRC, DST, F.lit(column).alias(PROP_VAL))
        )

    @staticmethod
    def _plain_cross(new: DataFrame, old: DataFrame, column: str) -> DataFrame:
        return (
            new.select(F.col("_k"), F.col("id").alias(SRC))
            .join(old, "_k", "inner")
            .select(SRC, DST, F.lit(column).alias(PROP_VAL))
        )
