"""Data profiling: one-pass per-column statistics.

The ``ANALYZE TABLE`` / data-quality-report primitive every ingest
pipeline runs before trusting a new drop of data: row/null/distinct
counts, min/max, and mean per column, computed in a SINGLE aggregation
pass over the table (one job, one 1-row result), then pivoted to one
row per column — never one scan per column.

Scale notes: with ``exact_distinct=True`` the plan uses Spark's
multi-count-distinct Expand (each row duplicated once per distinct
aggregate) — exact, but shuffle volume is columns × rows. At 100 TB
pass ``exact_distinct=False`` for approx_count_distinct (HyperLogLog++,
fixed memory, no Expand); the exact form exists so the DuckDB oracle
can match bit-for-bit. Min/max/mean stay native-typed until the final
1-row pivot, so numeric columns compare numerically (no lexicographic
min on doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    NumericType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from grafink_spark.util import pin_lazy


def column_profile(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """One row per column: (column, n_rows, n_null, n_distinct,
    min_num, max_num, mean, min_str, max_str).

    Numeric columns fill the ``*_num``/``mean`` fields; string and
    timestamp columns fill ``*_str`` (timestamps render as ISO
    strings). All metrics come from one aggregation pass.
    """
    cols = cols or df.columns
    types = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        nd = (
            F.countDistinct(F.col(c))
            if exact_distinct
            else F.approx_count_distinct(F.col(c))
        )
        aggs += [
            F.count(F.col(c)).alias(f"_cnt_{c}"),
            nd.alias(f"_nd_{c}"),
            F.min(F.col(c)).alias(f"_min_{c}"),
            F.max(F.col(c)).alias(f"_max_{c}"),
        ]
        if isinstance(types[c], NumericType):
            aggs.append(F.avg(F.col(c)).alias(f"_avg_{c}"))
    row = df.agg(*aggs)

    def entry(c: str):
        numeric = isinstance(types[c], NumericType)
        if not (
            numeric
            or isinstance(
                types[c],
                (StringType, TimestampType, TimestampNTZType, DateType),
            )
        ):
            raise ValueError(
                f"column_profile: unsupported type {types[c]} for {c!r}"
            )
        return F.struct(
            F.lit(c).alias("column"),
            F.col("_rows").cast("long").alias("n_rows"),
            (F.col("_rows") - F.col(f"_cnt_{c}")).cast("long").alias("n_null"),
            F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
            (
                F.col(f"_min_{c}").cast("double")
                if numeric
                else F.lit(None).cast("double")
            ).alias("min_num"),
            (
                F.col(f"_max_{c}").cast("double")
                if numeric
                else F.lit(None).cast("double")
            ).alias("max_num"),
            (
                F.col(f"_avg_{c}").cast("double")
                if numeric
                else F.lit(None).cast("double")
            ).alias("mean"),
            (
                F.lit(None).cast("string")
                if numeric
                else F.col(f"_min_{c}").cast("string")
            ).alias("min_str"),
            (
                F.lit(None).cast("string")
                if numeric
                else F.col(f"_max_{c}").cast("string")
            ).alias("max_str"),
        )

    return row.select(
        F.explode(F.array(*[entry(c) for c in cols])).alias("p")
    ).select("p.*")


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    group: str,
    value: str,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index per group between a reference slice
    and a current slice — the standard feature-drift monitor:

        PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)

    Bins are equi-width over the REFERENCE group's exact [min, max]
    (current values clamp into the edge bins, so novel out-of-range
    mass lands in — and inflates — the extremes, which is the behavior
    a drift monitor wants). Proportions are Laplace-smoothed
    ((c + 1)/(n + bins)) so empty bins stay finite. The per-group sum
    folds in bin order over a sorted array — deterministic double
    accumulation, engine-identical given identical counts.

    Rule of thumb: PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 major
    shift. Two group-keyed count shuffles + one ≤ bins·groups fold —
    no pairwise work, linear at any scale."""
    # bounds feeds both binning passes, and each bin-count table feeds
    # its total AND the full join — pin all three (each is ≤
    # groups·bins rows) so ref/cur are scanned once apiece
    bounds = ref.groupBy(group).agg(
        F.min(value).alias("_lo"), F.max(value).alias("_hi")
    ).transform(pin_lazy)

    def binned(df: DataFrame, cnt_name: str) -> DataFrame:
        width = (F.col("_hi") - F.col("_lo")) / bins
        b = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
            F.floor((F.col(value) - F.col("_lo")) / width).cast("long")
        )
        return (
            df.join(F.broadcast(bounds), group)
            .select(
                group,
                F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1)).alias(
                    "_bin"
                ),
            )
            .groupBy(group, "_bin")
            .agg(F.count(F.lit(1)).alias(cnt_name))
        )

    rc = binned(ref, "_cr").transform(pin_lazy)
    cc = binned(cur, "_cc").transform(pin_lazy)
    # totals come from the FULL-joined table (not per-side inner joins):
    # a group with reference rows but ZERO current rows — the
    # most-drifted case a monitor exists to catch — must still report,
    # with nc = 0 and all current mass smoothed
    j = (
        rc.join(cc, [group, "_bin"], "full")
        .select(
            group,
            "_bin",
            F.coalesce("_cr", F.lit(0)).alias("_cr"),
            F.coalesce("_cc", F.lit(0)).alias("_cc"),
        )
        .transform(pin_lazy)
    )
    tot = j.groupBy(group).agg(
        F.sum("_cr").alias("_nr"), F.sum("_cc").alias("_nc")
    )
    joined = j.join(tot, group)
    ordered = F.array_sort(
        F.collect_list(F.struct("_bin", "_cr", "_cc", "_nr", "_nc"))
    )
    return (
        joined.groupBy(group)
        .agg(ordered.alias("_arr"))
        .select(
            group,
            F.aggregate(
                F.col("_arr"),
                F.lit(0.0),
                lambda acc, s: acc
                + (
                    (s["_cr"] + 1) / (s["_nr"] + bins)
                    - (s["_cc"] + 1) / (s["_nc"] + bins)
                )
                * F.log(
                    ((s["_cr"] + 1) / (s["_nr"] + bins))
                    / ((s["_cc"] + 1) / (s["_nc"] + bins))
                ),
            ).alias("psi"),
        )
    )
