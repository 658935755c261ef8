"""Physical-plan linter: the scale-killer checklist as code.

Every pattern here is one the round reviews hunt by hand — a
CartesianProduct that explodes quadratically, a row-at-a-time Python
UDF that serializes the hot path, a nested-loop join that was meant to
be an equi join. ``lint_plan`` turns that review into a reusable check
so it can run over the WHOLE query registry per round (see
``tests/test_planlint.py``) and over user queries in CI.

Codes (errors unless noted):

- ``cartesian``      — CartesianProduct in the executed plan. Almost
  always an unintended cross join; quadratic at scale.
- ``row-udf``        — BatchEvalPython: a row-at-a-time Python UDF.
  10-100× slower than Arrow-batched Pandas UDFs and breaks
  whole-stage codegen around it.
- ``bnlj``           — BroadcastNestedLoopJoin (warning). Legitimate
  ONLY when the broadcast side is a 1-row/constant-bound aggregate
  (scalar totals, thresholds); anything larger re-scans the build side
  per row.
- ``single-part``    — Exchange SinglePartition feeding a non-terminal
  operator (warning). Legitimate for global top-k LIMITs and 1-row
  folds; a scale-killer when a full table funnels through it.
- ``oversized-broadcast`` — a broadcast-HINTED join side whose
  Catalyst size estimate exceeds the ``maybe_broadcast`` ceiling
  (error). A forced ``F.broadcast`` hint overrides Spark's own size
  check, so a dimension that grows past the ceiling OOMs the driver /
  executors instead of degrading to a shuffle join — the exact defect
  class the round-3/round-4 judge audits found by hand; this code makes
  it a machine check. Planner-chosen (unhinted) broadcasts are NOT
  flagged: those are runtime-size-gated and degrade safely.

A query that intentionally carries a warning registers it in the
caller's allowlist with a reason — the repo-wide test fails on any
UNDOCUMENTED occurrence, so new scale hazards can't land silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from grafink_spark.util import broadcast_max_bytes

ERROR_CODES = frozenset({"cartesian", "row-udf", "oversized-broadcast"})
WARNING_CODES = frozenset({"bnlj", "single-part"})


def _iter_logical(jplan):
    """Yield every node of a (logical) plan tree — explicit stack, so a
    deeply nested optimized plan can't hit Python's recursion limit."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def oversized_broadcasts(
    df: DataFrame, max_bytes: int | None = None
) -> list[int]:
    """Catalyst size estimates (bytes) of every broadcast-HINTED join
    side in ``df``'s optimized logical plan that exceeds ``max_bytes``.

    Only FORCED hints are flagged: a planner-chosen broadcast is gated
    by ``autoBroadcastJoinThreshold`` against runtime statistics, so it
    degrades to a shuffle join by itself when the table outgrows the
    threshold — a hint overrides that check and OOMs instead. The
    estimate is the hinted subtree's optimized-plan statistics (the
    same numbers :func:`util.plan_size_bytes` gates on). Unknown-size
    sentinels are skipped — no estimate, no verdict."""
    if max_bytes is None:
        # the same bound maybe_broadcast gates on, so "the
        # maybe_broadcast ceiling" is literally one number
        max_bytes = broadcast_max_bytes(df.sparkSession)
    too_big: list[int] = []
    try:
        jplan = df._jdf.queryExecution().optimizedPlan()
    except Exception:
        return too_big
    for node in _iter_logical(jplan):
        if node.nodeName() != "Join":
            continue
        try:
            hint = node.hint()
            sides = (
                (hint.leftHint(), node.left()),
                (hint.rightHint(), node.right()),
            )
        except Exception:
            continue
        for opt, side in sides:
            try:
                if not opt.isDefined():
                    continue
                strategy = opt.get().strategy()
                if not strategy.isDefined():
                    continue
                if "broadcast" not in str(strategy.get()).lower():
                    continue
                size = int(str(side.stats().sizeInBytes()))
                trustworthy = _leaves_have_stats(side)
            except Exception:
                continue
            # Two kinds of non-measurement to skip (no estimate, no
            # verdict): (1) the sentinel itself — Long.MaxValue, which
            # projections/filters SCALE (MaxValue/4 ≈ 2^61 slips under
            # a naive 2^62 check), hence the 2^55 bound (36 PiB, far
            # beyond any legitimate build side; a genuinely oversized
            # 100 TB table is 2^47); (2) any estimate derived from an
            # unknown-stats LEAF (a checkpoint's LogicalRDD): joins
            # and aggregates above it produce plausible-looking but
            # meaningless numbers — the size-gate helpers handle those
            # sides via caller-supplied proxies instead.
            if 0 <= size < (1 << 55) and size > max_bytes and trustworthy:
                too_big.append(size)
    return too_big


def _leaves_have_stats(jplan) -> bool:
    """True iff every LEAF of the (logical) subtree is a relation with
    a real size estimate (file scan / local relation).

    A ``LogicalRDD`` leaf — what a checkpoint/localCheckpoint pin
    becomes — is excluded even when it reports a number: the RDD-level
    byte count describes the PINNED table, and Catalyst scales it
    through aggregates/joins above with no cardinality model, yielding
    plausible-looking but meaningless build-side estimates (a per-id
    means table 'measured' at 28 GB). Sides above a checkpoint are
    therefore UNMEASURABLE at plan time: the size-gate helpers handle
    them via caller-supplied proxies (``maybe_broadcast(size_proxy=)``)
    and the source-level raw-broadcast audit owns the forced sites —
    this linter only issues verdicts it can actually measure."""
    for node in _iter_logical(jplan):
        if node.children().size() != 0:
            continue
        try:
            if node.nodeName() == "LogicalRDD":
                return False
            if int(str(node.stats().sizeInBytes())) >= (1 << 62):
                return False
        except Exception:
            return False
    return True


def lint_plan(df: DataFrame, broadcast_max_bytes: int | None = None) -> list[str]:
    """Return the sorted list of lint codes present in ``df``'s
    executed physical plan (empty list = clean)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    found = set()
    if "CartesianProduct" in plan:
        found.add("cartesian")
    if "BatchEvalPython" in plan:
        found.add("row-udf")
    if "BroadcastNestedLoopJoin" in plan:
        found.add("bnlj")
    if "Exchange SinglePartition" in plan:
        found.add("single-part")
    if oversized_broadcasts(df, broadcast_max_bytes):
        found.add("oversized-broadcast")
    return sorted(found)


def lint_query_build(build, broadcast_max_bytes: int | None = None) -> list[str]:
    """Lint the FULL plan of a query produced by the zero-arg callable
    ``build`` — the final executed plan plus every subtree pinned
    (checkpointed) during construction.

    Any checkpoint truncates lineage: the final plan shows an RDD-scan
    leaf where the pinned subtree used to be, so a linter that reads
    only the final plan is blind to cartesians/row-UDFs/forced
    broadcasts upstream of every ``util.pin`` site (~70 of them) — the
    round-5 gate missed a forced-broadcast cross join exactly this
    way. ``build`` runs under :class:`grafink_spark.util.capture_pins`
    so each pre-checkpoint DataFrame is linted as its own plan; the
    union of codes over {final} ∪ {pinned subtrees} is returned."""
    from grafink_spark.util import capture_pins

    with capture_pins() as pinned:
        df = build()
    found = set(lint_plan(df, broadcast_max_bytes))
    for sub in pinned:
        found.update(lint_plan(sub, broadcast_max_bytes))
    return sorted(found)


def lint_registry(
    spark,
    sf_dir: str,
    allow: dict[str, set[str]] | None = None,
    only: set[str] | None = None,
) -> dict[str, list[str]]:
    """Lint every registered query's physical plan against ``allow``.

    Each query is linted with :func:`lint_query_build` — final plan
    PLUS every pinned subtree, so lineage-truncating checkpoints can't
    hide upstream hazards. Returns ``{query_name: [unexpected codes]}``
    for queries whose plan carries a code NOT in its allowlist entry —
    empty dict means the whole registry is clean. Building a plan may
    execute driver-bounded prep jobs (localCheckpoint pins, offset
    collects), so this is a per-round gate, not a unit test.
    """
    from grafink_spark.benchqueries import QUERIES

    allow = allow or {}
    bad: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        codes = set(lint_query_build(lambda: fn(spark, sf_dir)))
        unexpected = codes - allow.get(name, set())
        if unexpected:
            bad[name] = sorted(unexpected)
    return bad
