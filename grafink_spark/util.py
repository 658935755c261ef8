"""Small plan-shaping utilities shared across operators."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Default ceiling for a size-gated broadcast hint.  Well above Spark's
# 10 MB autoBroadcastJoinThreshold (dimension tables are worth forcing
# past that) but far below executor/driver memory, so a scale-grown
# dimension degrades to a shuffle join instead of OOMing the cluster.
BROADCAST_MAX_BYTES = 256 * 1024 * 1024

_BROADCAST_CONF_KEY = "spark.grafink.broadcastMaxBytes"


def broadcast_max_bytes(spark) -> int:
    """The engine-wide broadcast bound in bytes: the session's
    ``spark.grafink.broadcastMaxBytes`` conf, else
    :data:`BROADCAST_MAX_BYTES`. A malformed conf value raises."""
    raw = spark.conf.get(_BROADCAST_CONF_KEY, None)
    return BROADCAST_MAX_BYTES if raw is None else int(raw)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for a DataFrame, in bytes, without
    running a job.

    Uses the optimized logical plan's statistics: for file scans this is
    the on-disk file size scaled by column pruning — exact enough to
    gate a broadcast decision, and O(metadata) to compute.  Returns
    ``None`` when no estimate is available (e.g. plan types that report
    the 8 EiB "unknown" sentinel).
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
    except Exception:
        return None
    # Catalyst reports Long.MaxValue-ish sentinels for "unknown".
    if size < 0 or size >= (1 << 62):
        return None
    return size


def maybe_broadcast(
    df: DataFrame,
    max_bytes: int | None = None,
    size_proxy: DataFrame | None = None,
    proxy_scale: float = 1.0,
) -> DataFrame:
    """Broadcast hint gated on Catalyst's size estimate.

    An unconditional ``F.broadcast`` on a dimension table that grows
    with the data (TPC-H customer/supplier/part are each ~SF-linear) is
    correct at bench scale but overrides Spark's size check, so at the
    100 TB design point the job dies collecting a multi-TB build side
    instead of degrading to a shuffle join.  This helper applies the
    hint only when the estimated size is under ``max_bytes`` (default
    :data:`BROADCAST_MAX_BYTES`, overridable per-session via the
    ``spark.grafink.broadcastMaxBytes`` conf); above the threshold — or
    when no estimate exists — it returns the frame unhinted and lets
    AQE pick the join strategy from runtime sizes.

    ``size_proxy``: gate on ANOTHER frame's estimate instead of
    ``df``'s own.  For a frame whose lineage passes through a
    checkpoint or an aggregate, Catalyst's stats are the unknown
    sentinel / a join-product guess — useless either way; when the
    caller knows a frame that UPPER-BOUNDS ``df`` (e.g. per-id means
    are never bigger than the id-carrying input), gating on the proxy
    restores the small-side broadcast without risking an over-hint.

    ``proxy_scale``: the known expansion factor between the proxy and
    ``df`` when the proxy is NOT an upper bound by itself — an IVF
    probes frame is ~nprobe× its raw query frame (one row per probed
    list, each carrying the vector), so gating on the raw frame alone
    would under-estimate by nprobe and a near-ceiling query set could
    earn a forced hint on a frame nprobe× the ceiling.  The proxy
    estimate is multiplied by this factor before the comparison.
    """
    if would_broadcast(df, max_bytes, size_proxy, proxy_scale):
        return F.broadcast(df)
    return df


def would_broadcast(
    df: DataFrame,
    max_bytes: int | None = None,
    size_proxy: DataFrame | None = None,
    proxy_scale: float = 1.0,
) -> bool:
    """The :func:`maybe_broadcast` gate as a predicate — for callers
    that pick a different PLAN per outcome (e.g. the IVF candidate
    join salts its shuffle keys only when the query side is too big to
    broadcast: salting a broadcast join would just replicate the
    build side for nothing)."""
    if max_bytes is None:
        max_bytes = broadcast_max_bytes(df.sparkSession)
    size = plan_size_bytes(size_proxy if size_proxy is not None else df)
    return size is not None and size * proxy_scale <= max_bytes


def autobroadcast_threshold_bytes(spark) -> int | None:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes,
    or ``None`` when auto-broadcast is disabled (-1) / unreadable.

    Used to predict Catalyst's own join-strategy choice: a side whose
    size estimate is under this value will be planned as the build side
    of a broadcast hash join, so shuffle-reducer hazards (hot-key
    output skew) cannot arise for that join at the current scale."""
    try:
        raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:
        return None
    s = raw.strip().lower().removesuffix("b")
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        n = int(s) * mult
    except ValueError:
        return None
    return n if n > 0 else None


def heavy_keys(keys: DataFrame, threshold: int) -> dict[tuple, int]:
    """Every key tuple (one value per column of ``keys``) held by at
    least ``threshold`` rows, mapped to its row count.

    The hot-key probe of a skewed join: one count aggregation, combined
    map-side, then a collect. The collect is bounded: at most
    ``rows / threshold`` tuples can reach the threshold, however many
    distinct keys exist. NULL cells group together (GROUP BY does), so
    a NULL key can be heavy."""
    cols = keys.columns
    rows = (
        keys.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= threshold)
        .collect()
    )
    return {tuple(r[c] for c in cols): r["_n"] for r in rows}


def key_in(cols: list[str], keys) -> Column:
    """Literal membership of the ``cols`` tuple in ``keys`` (tuples as
    from :func:`heavy_keys`), null-aware: a NULL cell matches a NULL in
    the key. Never NULL itself, so ``~key_in(...)`` selects exactly the
    other rows. One column tests ``isin``; several test each tuple."""
    if len(cols) == 1:
        c = F.col(cols[0])
        vals = [k[0] for k in keys if k[0] is not None]
        p = c.isin(vals) if vals else F.lit(False)
        if any(k[0] is None for k in keys):
            p = p | c.isNull()
    else:
        p = F.lit(False)
        for k in keys:
            p = p | reduce(
                lambda a, b: a & b,
                (
                    F.col(c).isNull() if v is None else F.col(c) == F.lit(v)
                    for c, v in zip(cols, k)
                ),
            )
    return F.coalesce(p, F.lit(False))


CHECKPOINT_DIR_CONF = "spark.grafink.checkpointDir"

# When a capture list is installed (linting only — see capture_pins),
# pin() appends each PRE-checkpoint DataFrame to it. A checkpoint of
# any flavor truncates lineage, so a plan linter that reads only the
# final executed plan is blind to every operator upstream of a pin —
# round 5's repo-wide lint missed a forced-broadcast cartesian exactly
# this way. Capturing the pre-pin frames lets the linter walk the FULL
# plan as the union of {final plan} ∪ {every pinned subtree}.
_pin_capture: list[DataFrame] | None = None


class capture_pins:
    """Context manager: record every DataFrame pinned (pre-checkpoint)
    while the block runs, for plan linting.

    >>> with capture_pins() as pinned:
    ...     df = build_query(spark, sf_dir)
    ... # lint df AND every frame in `pinned`

    Captures nest (the previous list is restored on exit) and cost one
    list append per pin — pin() still checkpoints normally, so eager
    pins that queries rely on for driver-bounded collects behave
    unchanged during linting."""

    def __enter__(self) -> list[DataFrame]:
        global _pin_capture
        self._prev = _pin_capture
        _pin_capture = []
        return _pin_capture

    def __exit__(self, *exc) -> None:
        global _pin_capture
        _pin_capture = self._prev


def pin(
    df: DataFrame,
    eager: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Lineage cut / layout pin, fault-tolerant when configured.

    The engine pins DataFrames for two reasons: to freeze a partition
    LAYOUT between the two passes of zip_with_index / grouped_rank /
    distributed_cumsum (AQE or a task retry must not re-balance), and
    to stop a subtree shared by several downstream branches from
    re-deriving per branch (Spark does no cross-branch CSE).
    ``localCheckpoint`` does both fast — but its blocks live on
    executor LOCAL storage with no lineage to replay: on a real
    cluster one lost executor kills a multi-hour job. Graph algorithms
    solved this with a reliable-checkpoint option; this helper makes
    the same choice engine-wide:

    - ``checkpoint_dir`` argument set, or the session conf
      ``spark.grafink.checkpointDir`` set → a RELIABLE
      ``df.checkpoint()`` into that (HDFS/S3) directory, which
      survives executor loss.
    - neither set (the default, right for local/short jobs) →
      ``localCheckpoint``.

    Call as ``df.transform(pin)`` (or ``pin_lazy`` for ``eager=False``
    subtree pins) so pinning composes with method chains.  Checkpoint
    files accumulate for the app's lifetime; enable
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` or clean
    the directory after the job."""
    if _pin_capture is not None:
        _pin_capture.append(df)
    if checkpoint_dir is None:
        try:
            checkpoint_dir = df.sparkSession.conf.get(CHECKPOINT_DIR_CONF, None)
        except Exception:
            checkpoint_dir = None
    if not checkpoint_dir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # read the LIVE dir (Spark resolves our path to a UUID subdir):
    # external setCheckpointDir calls or another caller's different
    # dir must not be masked by a stale cache.  The resolved dir is
    # scheme-qualified (file:/..., hdfs://...) + a UUID subdir; strip a
    # bare "file:" for the plain-local-path comparison.
    current = sc.getCheckpointDir()
    req = checkpoint_dir.rstrip("/")

    def _under(live: str) -> bool:
        # separator-aware prefix: '/data/ck2/<uuid>' must NOT match a
        # requested '/data/ck' (a bare startswith would), while both
        # '/data/ck' and '/data/ck/<uuid>' must.
        return live == req or live.startswith(req + "/")

    if current is None or not (
        _under(current) or _under(current.removeprefix("file:"))
    ):
        sc.setCheckpointDir(checkpoint_dir)
    # reliable checkpoints are ALWAYS taken eagerly, even for
    # eager=False pins: a lazy reliable checkpoint cannot be wrapped in
    # persist/unpersist (it materializes at some later action), so
    # Spark would re-run the whole un-persisted lineage a second time
    # to write the checkpoint files — doubling exactly the corpus-scale
    # work the pin exists to run once. Trading the laziness for
    # single-computation is right at the design point this conf serves.
    #
    # persist first: the checkpoint write is a SECOND job — without a
    # persist it recomputes the lineage (Spark's docs recommend caching)
    df = df.persist()
    try:
        return df.checkpoint()
    finally:
        df.unpersist()


def pin_lazy(df: DataFrame) -> DataFrame:
    """``pin(df, eager=False)`` in ``.transform()``-friendly form —
    the subtree-CSE pin that materializes on first use."""
    return pin(df, eager=False)


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan currently has fewer
    partitions than requested (default: cluster parallelism).

    Heavy per-row operators (MinHash, SimHash, media kernels) are
    CPU-bound, so a small input file that Spark scans as 1–2 tasks
    would serialize the whole computation; one cheap shuffle of the raw
    input buys full-cluster parallelism. At real scale inputs already
    have thousands of partitions and this is a no-op (the partition
    count is read from the physical plan, nothing is executed).
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
