"""Interactive graph shell (replaces the reference's Ammonite REPL).

Reference: core/shell/Main.scala:34-74 opens the configured graph and
drops into a REPL with ``graph``/``g`` bound. Here the query surface is
Spark SQL + the traversal helpers, so the shell binds:

- ``spark``  — the SparkSession
- ``store``  — GraphStore over the configured storage path
- ``g``      — GraphQuery traversal helpers (g.V(objectId=...),
  g.out_e("similarity", propVal=2), g.degree(), ...)
- ``vertices`` / ``edges`` registered as temp views for ``spark.sql``

Usage: ``python -m grafink_spark.shell --config conf.json``
"""

from __future__ import annotations

import argparse
from typing import Any

from grafink_spark.config import GrafinkConfig
from grafink_spark.graph.query import GraphQuery
from grafink_spark.graph.storage import GraphStore
from grafink_spark.session import get_spark


def build_bindings(config: GrafinkConfig, spark=None) -> dict[str, Any]:
    """The shell's namespace; also usable programmatically/by tests."""
    spark = spark or get_spark("grafink-spark-shell")
    store = GraphStore(spark, config.graph.storagePath)
    g = GraphQuery(store)
    g.register_views()

    def gremlin(query: str):
        """Run a Gremlin traversal string (the reference's REPL syntax),
        e.g. gremlin('g.V().outE("similarity").has("value", 2)')."""
        from grafink_spark.gremlin import GremlinExecutor

        return GremlinExecutor(g).run(query)

    return {"spark": spark, "store": store, "g": g, "gremlin": gremlin}


def main(argv: list[str] | None = None) -> int:
    import code

    p = argparse.ArgumentParser(prog="grafink-spark-shell")
    p.add_argument("--config", required=True)
    args = p.parse_args(argv)
    bindings = build_bindings(GrafinkConfig.load(args.config))
    banner = (
        "grafink-spark shell — bound: spark, store, g, gremlin "
        "(+ temp views: vertices, edges)\n"
        'try: g.count_by_label().show()  |  spark.sql("SELECT * FROM edges").show()\n'
        "     gremlin('g.V().outE(\"similarity\").has(\"value\", 2)').show()"
    )
    code.interact(banner=banner, local=bindings)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
