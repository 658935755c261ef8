"""Plan lint for the streaming paths (round-5 verdict ask #6).

The ``streaming/`` modules run their work inside ``foreachBatch``
bodies, which never pass through ``lint_registry`` (they are not
registered queries) — so a scale hazard in a micro-batch plan could
land unchecked. This test builds the representative micro-batch
transformation — the same library call the body makes on its
``batch`` DataFrame, on a static frame — and lints it with the
pin-aware linter.

Kept in sync with the body by construction: the case calls the SAME
public building block the body delegates to (``merge_changes``), so a
plan change in the block is caught here even if the body never
changes.
"""

from __future__ import annotations

from grafink_spark.planlint import lint_query_build

# module -> (allowed codes, reason)
ALLOW: dict[str, tuple[set[str], str]] = {
    "cdc_apply": (
        set(),
        "anti join on driver-bounded change keys (GATED broadcast)",
    ),
}


def test_cdc_apply_batch_plan(spark):
    """The merge each CDC microbatch runs: base anti-joined on change
    keys, changeset rows resolved last-writer-wins."""
    from grafink_spark.cdc import merge_changes

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, payload string"
    )
    changes = spark.createDataFrame(
        [(i, f"nv{i}", "U", i) for i in range(0, 50, 5)],
        "k long, payload string, _op string, _seq long",
    )
    codes = set(lint_query_build(lambda: merge_changes(base, changes, "k")))
    allowed, reason = ALLOW["cdc_apply"]
    assert codes <= allowed, (codes, reason)
