"""Edge classifier rule contract.

Reference: processor/edgerules/VertexClassifierRule.scala:21-39 and
processor/EdgeProcessor.scala:41-46 — every rule consumes
(loaded, current) vertex DataFrames and must return a DataFrame with
exactly the columns ``src: long, dst: long, propVal: <rule type>``,
plus static edge-label / property-key metadata.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame

SRC = "src"
DST = "dst"
PROP_VAL = "propVal"

EDGE_SCHEMA = [SRC, DST, PROP_VAL]

# A join key held by at least this many rows (both join sides counted)
# takes the salted join in the similarity and same-value rules. A
# g-row key emits ~g²/2 pairs; at 10k rows that is 50M pairs in one
# reducer without salting. Read at call time (tests patch it).
HOT_KEY_ROWS = 10_000


def salt_buckets(spark) -> int:
    """Salt count for a hot key's salted join: several buckets per core
    so the (key, salt) combos spread evenly over reducers, capped
    because the replicated side is copied once per bucket."""
    return max(8, min(4 * spark.sparkContext.defaultParallelism, 256))


class ClassifierRule(ABC):
    """A vertex-pair classifier producing edges."""

    @property
    @abstractmethod
    def name(self) -> str: ...

    @property
    @abstractmethod
    def edge_label(self) -> str: ...

    @property
    @abstractmethod
    def property_key(self) -> str: ...

    @abstractmethod
    def classify(self, loaded: DataFrame, current: DataFrame) -> DataFrame:
        """(loaded, current) → edges (src, dst, propVal)."""

    @staticmethod
    def validate(edges: DataFrame) -> DataFrame:
        """Presence check of the mandatory edge columns
        (EdgeProcessor.scala:94, spark-daria validatePresenceOfColumns)."""
        missing = [c for c in EDGE_SCHEMA if c not in edges.columns]
        if missing:
            raise ValueError(f"edge DataFrame missing mandatory columns: {missing}")
        return edges
