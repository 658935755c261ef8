"""Two-mode classifier — alert → fixed "similarity vertex" edges.

Reference: processor/edgerules/TwoModeClassifier.scala:24-145. Configured
recipes split into

- **direct rules** with a row condition (supernova / microlensing /
  asteroids) — each matching alert gets an edge to that recipe's fixed
  vertex;
- **exact-match rules** (catalog): one fixed vertex per ``equals`` value;
  an alert whose mapped column (cdsxmatch) equals the value gets an edge.

Edge label ``satr``, property key ``weight``, propVal always 0.0.

The reference evaluates conditions row-wise in Scala lambdas; we stay in
Catalyst: direct rules are ``where(cond)`` projections (whole-stage
codegen, filters pushed to the scan), the catalog family is a broadcast
hash join against the tiny recipe list — no per-row Python anywhere.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grafink_spark.errors import MissingFixedVertex
from grafink_spark.rules.base import DST, PROP_VAL, SRC, ClassifierRule
from grafink_spark.sources.fixed_vertices import FixedVertex

# TwoModeClassifier.scala:46-68
SUPERNOVA_CDSXMATCH_SET = [
    "galaxy", "Galaxy", "EmG", "Seyfert", "Seyfert_1", "Seyfert_2",
    "BlueCompG", "StarburstG", "LSB_G", "HII_G", "High_z_G", "GinPair",
    "GinGroup", "BClG", "GinCl", "PartofG", "Unknown", "Candidate_SN*",
    "SN", "Transient",
]


def _supernova_cond() -> Column:
    """New supernova recipe (TwoModeClassifier.scala:71-77)."""
    return (
        (F.col("snn_snia_vs_nonia") > 0.75)
        & (F.col("snn_sn_vs_all") > 0.75)
        & (F.col("drb") > 0.5)
        & (F.col("ndethist") < 400)
        & (F.col("classtar") > 0.4)
        & F.col("cdsxmatch").isin(SUPERNOVA_CDSXMATCH_SET)
    )


def _microlensing_cond() -> Column:
    return (F.col("mulens_class_1") == "ML") & (F.col("mulens_class_2") == "ML")


def _asteroids_cond() -> Column:
    return F.col("roid") > 1


def _rule_conditions() -> dict[str, Column]:
    return {
        "supernova": _supernova_cond(),
        "microlensing": _microlensing_cond(),
        "asteroids": _asteroids_cond(),
    }


# exact-match rule → which alert column it compares (TwoModeClassifier.scala:86-87)
RULE_TO_COLUMN = {"catalog": "cdsxmatch"}


class TwoModeClassifier(ClassifierRule):
    def __init__(self, recipes: list[str], fixed_vertices: list[FixedVertex]):
        self.recipes = list(recipes)
        self.fixed_vertices = list(fixed_vertices)

    @property
    def name(self) -> str:
        return "twoModeClassifier"

    @property
    def edge_label(self) -> str:
        return "satr"

    @property
    def property_key(self) -> str:
        return "weight"

    def _recipes_for_rule(self, rule: str) -> list[FixedVertex]:
        """A fixed vertex belongs to a rule when any of its property
        values stringifies to the rule name (TwoModeClassifier.scala:93-94)."""
        return [
            v
            for v in self.fixed_vertices
            if any(str(p.value) == rule for p in v.properties)
        ]

    def classify(self, loaded: DataFrame, current: DataFrame) -> DataFrame:
        conds = _rule_conditions()
        direct = [r for r in self.recipes if r in conds]
        exact = [r for r in self.recipes if r not in conds]

        outs: list[DataFrame] = []
        for rule in direct:
            recipes = self._recipes_for_rule(rule)
            if not recipes:
                raise MissingFixedVertex(
                    f"No fixed vertex found in csv for configured rule {rule}"
                )
            fixed_id = recipes[0].id
            outs.append(
                current.where(conds[rule]).select(
                    F.col("id").alias(SRC),
                    F.lit(fixed_id).cast("long").alias(DST),
                    F.lit(0.0).alias(PROP_VAL),
                )
            )

        for rule in exact:
            recipes = self._recipes_for_rule(rule)
            if not recipes:
                raise MissingFixedVertex(
                    f"No fixed vertex found in csv for configured rule {rule}"
                )
            column = RULE_TO_COLUMN.get(rule)
            if column is None:
                raise MissingFixedVertex(f"unknown exact-match rule {rule}")
            pairs = []
            for v in recipes:
                eq = v.prop("equals")
                if eq is None:
                    raise ValueError(
                        f"fixed vertex {v.id} must have property 'equals' "
                        f"(exact-match rule {rule})"
                    )
                pairs.append((str(eq), v.id))
            spark = current.sparkSession
            dim = spark.createDataFrame(pairs, ["_equals", "_fixed_id"])
            outs.append(
                current.join(
                    F.broadcast(dim), current[column] == dim["_equals"], "inner"
                ).select(
                    F.col("id").alias(SRC),
                    F.col("_fixed_id").cast("long").alias(DST),
                    F.lit(0.0).alias(PROP_VAL),
                )
            )

        if not outs:
            spark = current.sparkSession
            return spark.createDataFrame([], "src long, dst long, propVal double")
        return reduce(lambda a, b: a.unionByName(b), outs)
