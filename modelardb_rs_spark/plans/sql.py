"""One analysis of a SQL statement, read from Spark's own parser.

``analyze`` parses with the session's parser (no analysis, no catalog
lookup), rebuilds the unresolved plan from ``parsePlan(sql).toJSON()``'s
pre-order node list and derives what the engine decides before handing
a query to ``spark.sql``: the relations and columns it reads (views and
decoded fields, ``Engine.register_views``), the typed WHERE conjuncts
over each table read once (pushed into its view) and, for the shape
``[LIMIT] [ORDER BY] SELECT|GROUP BY [WHERE] FROM t``, what the aggregate
rewrite and the bare-LIMIT cutoff read. A statement Spark cannot parse
(the ASOF JOIN dialect, for one) has no analysis, and that failed parse
logs nothing: the statement's error is reported once, by ``spark.sql``.
"""

from __future__ import annotations

import datetime
import json
import threading
from collections import Counter
from typing import NamedTuple

from pyspark.errors import ParseException
from pyspark.logger import PySparkLogger


class Node(NamedTuple):
    cls: str  # short class name: Project, Filter, UnresolvedAttribute, ...
    fields: dict  # JSON fields; embedded plans/expressions rebuilt as Nodes
    children: tuple


Col = NamedTuple("Col", [("name", str)])  # unqualified, as written; "*" for a star
Lit = NamedTuple("Lit", [("value", str), ("type", str)])  # Spark's rendering, type name
Call = NamedTuple("Call", [("func", str), ("args", tuple)])  # func in lower case


class Pred(NamedTuple):
    """An AND-conjunct ``column op literal``. kind 'timestamp': a
    TIMESTAMP literal as µs since the epoch read as UTC (valid under a
    UTC session only), strict bounds folded (``< b`` is ``<= b - 1``),
    so op is '>=' or '<='; 'string': ``= 'text'``; 'number': one of
    ``> >= < <=`` against a numeric literal, value a float."""

    column: str
    op: str
    value: int | float | str
    kind: str


class Item(NamedTuple):
    expr: Col | Lit | Call | None  # None: not a column/literal/plain call
    alias: str | None

    @property
    def name(self) -> str | None:
        """The output column name ``spark.sql`` gives the item."""
        return self.alias or _sql_name(self.expr)


class Select(NamedTuple):
    table: str  # as written, one part, no alias
    items: tuple[Item, ...]
    group_by: tuple | None  # None: no GROUP BY
    where: tuple[Pred | None, ...]  # per AND-conjunct; None = not a Pred
    ordered: bool
    limit: int | None

    @property
    def bare_limit(self) -> int | None:
        """n for ``SELECT <columns> FROM t LIMIT n`` with no filter,
        order, aggregate or window: only then is any n rows correct."""
        plain = not (self.ordered or self.where) and self.group_by is None
        if plain and all(isinstance(i.expr, Col) for i in self.items):
            return self.limit
        return None


class Analysis(NamedTuple):
    relations: frozenset[str]  # lower case; every relation read
    ctes: frozenset[str]  # lower case; names its WITH clauses define
    closed: bool  # a query naming every relation it reads (not a command)
    columns: frozenset[str] | None  # name parts; None: star, USING, NATURAL
    # lower-case relation read once -> Preds of the WHERE directly over
    # it (through an alias at most), when that WHERE has no subquery
    filters: dict
    select: Select | None


_QUERY_ROOTS = frozenset(
    "Project Aggregate Filter Sort GlobalLimit LocalLimit Offset Distinct Join Union "
    "Intersect Except UnresolvedWith SubqueryAlias UnresolvedHaving WithWindowDefinition "
    "Generate LateralJoin Pivot Unpivot Sample Tail UnresolvedHint RepartitionByExpression "
    "Repartition Deduplicate UnresolvedRelation LocalRelation OneRowRelation "
    "UnresolvedInlineTable".split()
)
_SUBQUERIES = frozenset("ScalarSubquery Exists ListQuery InSubquery LateralSubquery".split())
_OPS = {"GreaterThanOrEqual": ">=", "GreaterThan": ">", "LessThanOrEqual": "<=",
        "LessThan": "<", "EqualTo": "="}
_NUMERIC = frozenset("byte short integer long float double".split())
_EPOCH, _US = datetime.datetime(1970, 1, 1), datetime.timedelta(microseconds=1)


# Set while this thread's analysis parse runs: pyspark logs a parse error
# with a query context as it converts it, and a failed analysis parse must
# stay silent. Thread-local, since Flight serves each do_get on its own
# thread.
_parsing = threading.local()
PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(
    lambda record: not getattr(_parsing, "on", False)
)


def analyze(spark, sql: str) -> Analysis | None:
    """The statement's analysis, or None when Spark cannot parse it."""
    _parsing.on = True
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except ParseException:
        return None
    finally:
        _parsing.on = False
    root = _rebuild(json.loads(plan.toJSON()))
    walked = list(_walk(root, None))
    parent = {id(n): p for n, p in walked}
    nodes = [n for n, _ in walked]
    rels = [n for n in nodes if n.cls == "UnresolvedRelation"]
    reads = Counter(_relation(n).lower() for n in rels)
    filters = {}
    for n in rels:
        over = parent[id(n)]
        if over is not None and over.cls == "SubqueryAlias":
            over = parent[id(over)]
        if reads[_relation(n).lower()] == 1 and over is not None and over.cls == "Filter":
            cond = over.fields["condition"]
            if not any(m.cls in _SUBQUERIES for m, _ in _walk(cond, None)):
                preds = (_predicate(c) for c in _conjuncts(cond))
                filters[_relation(n).lower()] = tuple(p for p in preds if p)
    implicit = any(
        n.cls.startswith(("UnresolvedStar", "UnresolvedRegex"))
        or (n.cls == "Join" and "product-class" in (n.fields.get("joinType") or {}))
        for n in nodes
    )
    return Analysis(
        relations=frozenset(reads),
        ctes=frozenset(
            r["_1"].lower() for n in nodes if n.cls == "UnresolvedWith"
            for r in n.fields["cteRelations"]
        ),
        closed=root.cls in _QUERY_ROOTS
        and not any("UnresolvedIdentifier" in n.cls for n in nodes),
        columns=None if implicit else frozenset(
            p.lower() for n in nodes if n.cls == "UnresolvedAttribute"
            for p in _parts(n.fields["nameParts"])
        ),
        filters=filters,
        select=_select(root),
    )


def _rebuild(nodes: list[dict]) -> Node:
    """The tree of a pre-order list: each node, then its children."""
    it = iter(nodes)

    def take() -> Node:
        d = next(it)
        children = tuple(take() for _ in range(d["num-children"]))
        fields = {k: _value(v) for k, v in d.items() if k not in ("class", "num-children")}
        return Node(d["class"].rsplit(".", 1)[-1], fields, children)

    return take()


def _value(v):
    if isinstance(v, list) and v and isinstance(v[0], dict) and "num-children" in v[0]:
        return _rebuild(v)
    if isinstance(v, list):
        return [_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _value(x) for k, x in v.items()}
    return v


def _walk(node: Node, parent: Node | None):
    """(node, parent) for all nodes, embedded trees' roots parentless."""
    yield node, parent
    for c in node.children:
        yield from _walk(c, node)
    stack = list(node.fields.values())
    while stack:
        v = stack.pop()
        if isinstance(v, Node):
            yield from _walk(v, None)
        elif isinstance(v, (list, dict)):
            stack.extend(v.values() if isinstance(v, dict) else v)


def _parts(name) -> list[str]:
    """Name parts of a rendered Seq such as ``[d, tag]``."""
    return name if isinstance(name, list) else name[1:-1].split(", ")


def _relation(node: Node) -> str:
    return ".".join(_parts(node.fields["multipartIdentifier"]))


def _expr(node: Node) -> Col | Lit | Call | None:
    f = node.fields
    if node.cls == "UnresolvedAttribute":
        parts = _parts(f["nameParts"])
        return Col(parts[0]) if len(parts) == 1 else None
    if node.cls == "UnresolvedStar":
        return Col("*")
    if node.cls == "Literal":
        return Lit(f["value"], f["dataType"])
    if node.cls == "UnresolvedFunction":
        parts, args = _parts(f["nameParts"]), tuple(_expr(c) for c in node.children)
        modified = any(f.get(k) for k in ("isDistinct", "ignoreNulls", "orderingWithinGroup", "filter"))
        if len(parts) == 1 and not modified and None not in args:
            return Call(parts[0].lower(), args)
    return None


def _sql_name(e: Col | Lit | Call | None) -> str | None:
    if isinstance(e, Call):
        return f"{e.func}({', '.join(_sql_name(a) for a in e.args)})"
    return e[0] if e is not None else None  # a Col's name, a Lit's value


def _item(node: Node) -> Item:
    if node.cls in ("Alias", "UnresolvedAlias"):
        return Item(_expr(node.children[0]), node.fields.get("name"))
    return Item(_expr(node), None)


def _conjuncts(node: Node) -> list[Node]:
    if node.cls == "And":
        return _conjuncts(node.children[0]) + _conjuncts(node.children[1])
    return [node]


def _predicate(node: Node) -> Pred | None:
    op = _OPS.get(node.cls)
    col, lit = (_expr(c) for c in node.children) if op else (None, None)
    if not isinstance(col, Col) or col.name == "*" or not isinstance(lit, Lit):
        return None
    if lit.type == "timestamp" and op != "=":
        try:
            us = (datetime.datetime.fromisoformat(lit.value) - _EPOCH) // _US
        except (ValueError, TypeError):
            return None
        us += {">": 1, "<": -1}.get(op, 0)
        return Pred(col.name, op[0] + "=", us, "timestamp")
    if lit.type == "string" and op == "=":
        return Pred(col.name, op, lit.value, "string")
    if op != "=" and (lit.type in _NUMERIC or lit.type.startswith("decimal")):
        return Pred(col.name, op, float(lit.value), "number")
    return None


def _select(node: Node) -> Select | None:
    limit = None
    if node.cls == "GlobalLimit" and node.children[0].cls == "LocalLimit":
        n = _expr(node.fields["limitExpr"])
        if not (isinstance(n, Lit) and n.type in ("integer", "long")):
            return None
        limit, node = int(n.value), node.children[0].children[0]
    ordered = node.cls == "Sort"
    node = node.children[0] if ordered else node
    if node.cls == "Aggregate":
        items = node.fields["aggregateExpressions"]
        group_by = tuple(_expr(g) for g in node.fields["groupingExpressions"])
    elif node.cls == "Project":
        items, group_by = node.fields["projectList"], None
    else:
        return None
    node = node.children[0]
    where = ()
    if node.cls == "Filter":
        where = tuple(_predicate(c) for c in _conjuncts(node.fields["condition"]))
        node = node.children[0]
    if node.cls != "UnresolvedRelation" or len(_parts(node.fields["multipartIdentifier"])) != 1:
        return None
    return Select(_relation(node), tuple(map(_item, items)), group_by, where, ordered, limit)
