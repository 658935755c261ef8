"""Gremlin-string mini-parser for the shell.

The reference's users type Gremlin traversals at its REPL
(``/root/reference/README.md:419-489``); this module parses that
surface — the §2.8 traversal list, not the whole Gremlin language —
onto :class:`grafink_spark.graph.query.GraphQuery` calls, so a
migrating user can paste their queries unchanged:

    g.V().count()                                → int
    g.V().has("objectId", "ZTF19acmcetc")        → vertex DataFrame
    g.V().has("objectId", "x").next()            → first Row (or None)
    g.V().outE("similarity").has("value", 2)     → edge DataFrame
    g.V("28928").outE("similarity")              → edges from vertex 28928
    g.V().has("recipe", "asteroids").outE().count() → int (degree sum)
    g.V(28928).valueMap(true)                    → dict
    g.V().groupCount().by(label)                 → per-label count DataFrame
    g.V(28928).out("similarity")                 → neighbor-id DataFrame

Terminal no-ops from the reference transcripts (``.next()``,
``.toList()``, ``.asScala``, ``.iterate()``) are accepted; ``next``
materializes the first row, ``toList`` collects. Everything stays a
lazy DataFrame plan until one of those terminals (or ``count``) runs,
except a bounded vertex lookup: ``g.V(<id>)``, or ``g.V()``, followed
by literal ``has``/``hasLabel`` steps that together state an equality
on ``id`` or ``objectId``. That prefix goes through ``GraphQuery.V``,
whose Arrow reader reads it at once with no Spark job, and a
``next``/``toList`` directly on it takes its Rows without building a
DataFrame (``graph/query.py``).

Scope is the reference's documented query set plus the common next
steps a migrating TinkerPop user types: ``hasLabel``, ``values``,
``dedup``, ``order().by(key[, desc])``, ``id``, ``outV/inV/bothV``,
and P predicates in ``has`` (``gt/gte/lt/lte/eq/neq/between/inside/
within/without``, bare or ``P.``-qualified — numeric bounds against
the string-stored edge property compare numerically). Anything else
raises GremlinParseError naming the unsupported step.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafink_spark.graph.query import BOUNDED_KEYS, GraphQuery
from grafink_spark.rules.base import DST, SRC


class GremlinParseError(ValueError):
    pass


@dataclass
class Step:
    name: str
    args: list


@dataclass
class Pred:
    """A Gremlin P predicate argument — ``gt(0.9)``, ``between(1, 5)``,
    ``within("a", "b")`` — kept symbolic until the executor builds the
    column condition (so types can adapt to the stored column)."""

    name: str
    args: list

    _OPS = {"gt", "gte", "lt", "lte", "eq", "neq", "between", "within",
            "inside", "without"}

    def condition(self, col):
        a = self.args
        if self.name == "gt":
            return col > F.lit(a[0])
        if self.name == "gte":
            return col >= F.lit(a[0])
        if self.name == "lt":
            return col < F.lit(a[0])
        if self.name == "lte":
            return col <= F.lit(a[0])
        if self.name == "eq":
            return col == F.lit(a[0])
        if self.name == "neq":
            return col != F.lit(a[0])
        if self.name == "between":  # [a, b) — TinkerPop semantics
            return (col >= F.lit(a[0])) & (col < F.lit(a[1]))
        if self.name == "inside":  # (a, b) exclusive
            return (col > F.lit(a[0])) & (col < F.lit(a[1]))
        if self.name == "within":
            return col.isin(list(a))
        if self.name == "without":
            return ~col.isin(list(a))
        raise GremlinParseError(f"unsupported predicate P.{self.name}")


_STEP_RE = re.compile(r"\s*\.?\s*(\w+)\s*\(")
_ARG_RE = re.compile(
    r"""\s*(?:'([^']*)'|"([^"]*)"|([A-Za-z_][\w.]*)|(-?\d+\.\d+)|(-?\d+))\s*(?:,|$)"""
)


_PRED_RE = re.compile(r"\s*(?:P\s*\.\s*)?(\w+)\s*\(")


def _parse_args(raw: str) -> list:
    raw = raw.strip()
    if not raw:
        return []
    args, pos = [], 0
    while pos < len(raw):
        pm = _PRED_RE.match(raw, pos)
        if pm and pm.group(1) in Pred._OPS:
            close = _find_close(raw, pm.end())
            if close < 0:
                raise GremlinParseError(
                    f"unbalanced parens in predicate: {raw[pos:]!r}"
                )
            args.append(Pred(pm.group(1), _parse_args(raw[pm.end():close])))
            pos = close + 1
            tail = re.match(r"\s*(?:,|$)", raw[pos:])
            if not tail:
                raise GremlinParseError(
                    f"cannot parse after predicate: {raw[pos:]!r}"
                )
            pos += tail.end()
            continue
        m = _ARG_RE.match(raw, pos)
        if not m:
            raise GremlinParseError(f"cannot parse arguments: {raw[pos:]!r}")
        s1, s2, ident, flt, intg = m.groups()
        if s1 is not None or s2 is not None:
            args.append(s1 if s1 is not None else s2)
        elif flt is not None:
            args.append(float(flt))
        elif intg is not None:
            args.append(int(intg))
        else:
            low = ident.lower()
            if low == "true":
                args.append(True)
            elif low == "false":
                args.append(False)
            else:
                args.append(ident)  # bare identifier, e.g. label / T.label
        pos = m.end()
    return args


def _find_close(q: str, start: int) -> int:
    """Index of the step's closing paren, ignoring parens inside quoted
    string arguments (e.g. has("objectId", "AT2019(bkz)")) and counting
    nested unquoted parens (predicate args: has("rfscore", gt(0.9)))."""
    quote = None
    depth = 0
    for i in range(start, len(q)):
        c = q[i]
        if quote:
            if c == quote:
                quote = None
        elif c in ("'", '"'):
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return i
            depth -= 1
    return -1


def parse(query: str) -> list[Step]:
    """``g.V().outE("x").has("value", 2).next()`` → [Step, ...]."""
    q = query.strip().rstrip(";")
    if not q.startswith("g"):
        raise GremlinParseError("traversal must start with 'g'")
    pos = 1
    steps: list[Step] = []
    while pos < len(q):
        m = _STEP_RE.match(q, pos)
        if not m:
            # bare property access like ".asScala" (no parens)
            b = re.match(r"\s*\.\s*(\w+)\s*", q[pos:])
            if b:
                steps.append(Step(b.group(1), []))
                pos += b.end()
                continue
            raise GremlinParseError(f"cannot parse at: {q[pos:]!r}")
        name = m.group(1)
        close = _find_close(q, m.end())
        if close < 0:
            raise GremlinParseError(f"unbalanced parens in {query!r}")
        try:
            args = _parse_args(q[m.end() : close])
        except GremlinParseError as e:
            raise GremlinParseError(
                f"in step {name}(...): {e} — nested-traversal steps "
                "(repeat/where/by(traversal)) are outside the supported "
                "§2.8 surface"
            ) from None
        steps.append(Step(name, args))
        pos = close + 1
    if not steps:
        raise GremlinParseError("empty traversal")
    return steps


_EDGE_PROP = {"value": "propVal"}  # reference edge property → column
# steps that, straight after g.V(<one id>), read by that id alone and
# never touch the vertex frame
_BY_ID_STEPS = {"valueMap", "out", "in", "both", "outE", "inE", "bothE"}


def _literal_prefix(steps: list[Step], vertex_id: int | None) -> tuple[dict, int]:
    """The equalities ``g.V([<id>])`` and the literal ``has``/
    ``hasLabel(one)`` steps straight after it state, and the index of
    the first step past them."""
    eq = {} if vertex_id is None else {"id": vertex_id}
    n = 1
    for step in steps[1:]:
        if step.name == "has" and len(step.args) == 2 and not isinstance(step.args[1], Pred):
            k, v = step.args
        elif step.name == "hasLabel" and len(step.args) == 1:
            k, v = "label", str(step.args[0])
        else:
            break
        if k in eq:
            break
        eq[k] = v
        n += 1
    return eq, n


def _anchored_in(edges: DataFrame, vertices: DataFrame, anchor: list[str]) -> DataFrame:
    """The edges with an ``anchor`` column among the ids of
    ``vertices`` (a semi-join per anchor, distinct union of several)."""
    ids = vertices.select("id")
    parts = [
        edges.join(ids.select(F.col("id").alias(c)), c, "left_semi") for c in anchor
    ]
    matched = parts[0]
    for part in parts[1:]:
        matched = matched.unionByName(part).distinct()
    return matched


class GremlinExecutor:
    """Evaluates a parsed traversal against GraphQuery's tables."""

    def __init__(self, g: GraphQuery):
        self.g = g

    def run(self, query: str):
        steps = parse(query)
        if steps[0].name != "V":
            raise GremlinParseError("traversal must start with g.V(...)")
        mode = "vertices"
        # explicit restriction tracking (NOT plan sniffing): set by
        # V(ids...), has() on vertices, and limit() on vertices — outE
        # must semi-join whenever the upstream vertex set is narrowed
        ids = [self._vid(a) for a in steps[0].args]
        restricted = bool(ids)
        # single-id fast path (src pushdown, valueMap)
        vertex_id = ids[0] if len(ids) == 1 else None
        # a vertex filter after g.V(<id>): the vertex frame may no longer
        # hold vertex_id, so later steps read it instead of the id alone
        narrowed = False
        first = 1  # the first step the loop below evaluates
        done = None  # set once a terminal materializes a python value
        eq, end = _literal_prefix(steps, vertex_id) if len(ids) <= 1 else ({}, 1)
        if vertex_id is not None and steps[1:2] and steps[1].name in _BY_ID_STEPS:
            df = None  # the next step reads by id alone: skip the open
        elif BOUNDED_KEYS.isdisjoint(eq):
            # no bounded lookup: the loop below applies every step
            df = self.g.store.vertices()
            if ids:
                df = df.where(F.col("id").isin(ids))
        else:
            # V(<id>) and the literal has/hasLabel steps after it are one
            # GraphQuery.V lookup; next/toList straight on it take Rows
            first, restricted, narrowed = end, True, end > 1
            terminal = steps[first].name if first < len(steps) else None
            if terminal == "next":
                rows = self.g.vertex_rows(eq, limit=1)
                if not rows:
                    return None
                done, first = rows[0], first + 1
            elif terminal == "toList":
                done, first = self.g.vertex_rows(eq), first + 1
            elif terminal == "count":
                done, first = self.g.vertex_count(**eq), first + 1
            else:
                df = self.g.V(**eq)
        it = iter(steps[first:])
        for step in it:
            if done is not None:
                # only transcript no-ops may follow a materialized value
                # (e.g. g.V().count().next() in the reference REPL log)
                if step.name in ("next", "toList", "asScala", "iterate"):
                    continue
                raise GremlinParseError(
                    f"step {step.name}() after a terminal step has no "
                    "effect — remove it or split the traversal"
                )
            if step.name == "has":
                if len(step.args) != 2:
                    raise GremlinParseError("has(key, value) takes 2 args")
                k, v = step.args
                if mode == "edges":
                    col = _EDGE_PROP.get(k, k)
                    # edge propVal is stored as string (reference parity);
                    # P predicates with numeric bounds compare numerically
                    if isinstance(v, Pred):
                        c = F.col(col)
                        if any(isinstance(a, (int, float)) for a in v.args):
                            c = c.cast("double")
                        df = df.where(v.condition(c))
                    else:
                        df = df.where(F.col(col) == F.lit(str(v)))
                else:
                    if isinstance(v, Pred):
                        df = df.where(v.condition(F.col(k)))
                    else:
                        df = df.where(F.col(k) == F.lit(v))
                    restricted = True
                    narrowed = narrowed or mode == "vertices"
            elif step.name == "hasLabel":
                if not step.args:
                    raise GremlinParseError("hasLabel(label) takes 1+ args")
                df = df.where(F.col("label").isin([str(a) for a in step.args]))
                if mode == "vertices":
                    restricted = narrowed = True
            elif step.name == "values":
                if len(step.args) != 1:
                    raise GremlinParseError("values(prop) takes 1 arg")
                prop = step.args[0]
                if mode == "edges":
                    prop = _EDGE_PROP.get(prop, prop)
                df = df.select(prop)
            elif step.name == "dedup":
                df = df.distinct()
            elif step.name == "id":
                if mode == "edges":
                    raise GremlinParseError("id() applies to vertices")
                col = "id" if mode == "vertices" else "neighbor_id"
                df = df.select(F.col(col).alias("id"))
            elif step.name == "order":
                by = next(it, None)
                if by is None or by.name != "by":
                    raise GremlinParseError("order() needs .by(key[, desc])")
                key = by.args[0] if by.args else "id"
                if mode == "edges":
                    key = _EDGE_PROP.get(key, key)
                direction = (
                    str(by.args[1]).rsplit(".", 1)[-1].lower()
                    if len(by.args) > 1
                    else "asc"
                )
                c = F.col(key)
                df = df.orderBy(
                    c.desc() if direction in ("desc", "decr") else c.asc()
                )
            elif step.name in ("outV", "inV", "bothV"):
                if mode != "edges":
                    raise GremlinParseError(f"{step.name}() needs edges")
                anchors = {"outV": [SRC], "inV": [DST], "bothV": [SRC, DST]}[
                    step.name
                ]
                idset = df.select(F.col(anchors[0]).alias("id"))
                for c in anchors[1:]:
                    idset = idset.unionByName(df.select(F.col(c).alias("id")))
                df = self.g.store.vertices().join(
                    idset.distinct(), "id", "left_semi"
                )
                mode, restricted, vertex_id = "vertices", True, None
            elif step.name in ("outE", "inE", "bothE"):
                # the store materializes BOTH directions of every edge,
                # so inE anchors on dst and bothE matches either end
                label = step.args[0] if step.args else None
                edges = self.g.out_e(label)
                anchor = {"outE": [SRC], "inE": [DST], "bothE": [SRC, DST]}[
                    step.name
                ]
                if vertex_id is not None:
                    m = F.col(anchor[0]) == vertex_id
                    for c in anchor[1:]:
                        m = m | (F.col(c) == vertex_id)
                    edges = edges.where(m)
                if restricted and (vertex_id is None or narrowed):
                    edges = _anchored_in(edges, df, anchor)
                df, mode = edges, "edges"
            elif step.name in ("out", "in", "both"):
                label = step.args[0] if step.args else None
                if vertex_id is None:
                    raise GremlinParseError(f"{step.name}() needs g.V(<id>)")
                # both directions are materialized: in == out over the
                # reverse rows; both == distinct union of the two
                if narrowed:
                    # hop along the edges anchored in the vertex frame
                    ends = {
                        "out": [(SRC, DST)],
                        "in": [(DST, SRC)],
                        "both": [(SRC, DST), (DST, SRC)],
                    }[step.name]
                    hops = [
                        _anchored_in(
                            self.g.out_e(label).where(F.col(a) == vertex_id), df, [a]
                        ).select(F.col(b).alias("neighbor_id"))
                        for a, b in ends
                    ]
                    df = hops[0]
                    for hop in hops[1:]:
                        df = df.unionByName(hop).distinct()
                elif step.name == "out":
                    df = self.g.neighbors(vertex_id, label)
                elif step.name == "in":
                    df = (
                        self.g.out_e(label)
                        .where(F.col(DST) == vertex_id)
                        .select(F.col(SRC).alias("neighbor_id"))
                    )
                else:
                    df = (
                        self.g.neighbors(vertex_id, label)
                        .unionByName(
                            self.g.out_e(label)
                            .where(F.col(DST) == vertex_id)
                            .select(F.col(SRC).alias("neighbor_id"))
                        )
                        .distinct()
                    )
                mode = "neighbors"
            elif step.name == "count":
                done = df.count()
            elif step.name == "groupCount":
                by = next(it, None)
                if by is None or by.name != "by":
                    raise GremlinParseError("groupCount() needs .by(label)")
                key = by.args[0] if by.args else "label"
                if key in ("label", "T.label"):
                    key = "label"
                df = df.groupBy(key).agg(F.count(F.lit(1)).alias("count"))
            elif step.name == "valueMap":
                if vertex_id is None:
                    raise GremlinParseError("valueMap needs g.V(<id>)")
                if narrowed:
                    rows = df.take(1)
                    done = rows[0].asDict() if rows else {}
                else:
                    done = self.g.value_map(vertex_id)
            elif step.name == "limit":
                df = df.limit(int(step.args[0]))
                if mode == "vertices":
                    restricted = narrowed = True
            elif step.name == "next":
                rows = df.take(1)
                done = rows[0] if rows else None
                if done is None:
                    return None
            elif step.name == "toList":
                done = df.collect()
            elif step.name in ("asScala", "iterate", "fold"):
                continue  # transcript no-ops on a DataFrame
            else:
                raise GremlinParseError(
                    f"unsupported Gremlin step: {step.name}() — supported: "
                    "V, has (incl. P.gt/gte/lt/lte/eq/neq/between/inside/"
                    "within/without), hasLabel, outE/inE/bothE, "
                    "out/in/both, outV/inV/bothV, values, id, dedup, "
                    "order().by, count, groupCount().by, valueMap, limit, "
                    "next, toList"
                )
        return df if done is None else done

    @staticmethod
    def _vid(arg) -> int:
        """Vertex ids are longs; accept the quoted form the reference's
        transcripts use (g.V("28928"))."""
        try:
            return int(arg)
        except (TypeError, ValueError):
            raise GremlinParseError(
                f"V() takes numeric vertex ids, got {arg!r} — property "
                'lookups go through has(), e.g. g.V().has("objectId", ...)'
            ) from None


def gremlin(g: GraphQuery, query: str):
    """One-call surface: ``gremlin(g, 'g.V().count()')``."""
    return GremlinExecutor(g).run(query)
