"""Spark's own parse tree of a SQL statement, read from Python.

``parse`` runs the session's parser (no analysis, no catalog lookup)
and returns the unresolved plan as a tree of :class:`Node` built from
ONE ``toJSON()`` transfer. A node's character span comes from its
JVM-side ``origin()``, fetched lazily, so only the nodes the SQL-text
router splices and the DML fields ``Engine.sql`` reads cost Py4J calls.
``walk`` reaches every node, subquery plans included; ``frame``
analyses a parsed query node as ``spark.sql`` analyses text;
``_mask_literals`` is the one quote-aware scan of statement text.
"""

from __future__ import annotations

import itertools
import json
import re

# Origin(line, startPosition, startIndex, stopIndex, sqlText, ...)
_ORIGIN_RE = re.compile(r"Origin\([^,]*,[^,]*,Some\((\d+)\),Some\((\d+)\)")


class Node:
    """A plan or expression node: ``cls`` is the short class name, ``d``
    the JSON fields, ``kids`` the children (plan children of a plan
    node, arguments of an expression)."""

    def __init__(self, d: dict, parent: Node | None, step):
        self.d, self.cls = d, d["class"].rsplit(".", 1)[-1]
        self.kids: list[Node] = []
        self._parent, self._step, self._jvm = parent, step, None

    def jvm(self):
        if self._jvm is None:  # step: the parent's JVM object -> this one
            self._jvm = self._step(self._parent.jvm())
        return self._jvm

    def span(self) -> tuple[int, int]:
        """``[start, stop)`` of the text this node was parsed from."""
        m = _ORIGIN_RE.match(self.jvm().origin().toString())
        if m is None:
            raise ValueError(f"{self.cls} carries no source position")
        return int(m.group(1)), int(m.group(2)) + 1

    def trees(self, field: str):
        """The trees in JSON field ``field``: the field's own, or one per
        element of a list field (a tuple element's ``_1``/``_2`` walked)."""
        return _trees(self, self.d.get(field), lambda j: _field(j, self.cls, field))

    def sub(self, field: str, item: int = 0) -> Node | None:
        """Tree ``item`` of JSON field ``field`` (see ``trees``), or None."""
        return next(itertools.islice(self.trees(field), item, None), None)

    def name(self, field: str = "nameParts") -> list[str]:
        return self.d[field].strip("[]").split(", ")  # "[a, b]"


# (node class, field) -> whether the field holds a scala Option
_OPTION: dict[tuple[str, str], bool] = {}


def _field(j, cls: str, field: str):
    """Field ``field`` of JVM node ``j`` (of class ``cls``), unwrapped from
    its Option; the JSON spells Some(e) as e, so the JVM tells, once."""
    v = getattr(j, field)()
    if (cls, field) not in _OPTION:
        _OPTION[cls, field] = v.getClass().getName() == "scala.Some"
    return v.get() if _OPTION[cls, field] else v


def _build(it, parent: Node | None, step) -> Node:
    n = Node(next(it), parent, step)  # pre-order, each node counts its kids
    n.kids = [_build(it, n, lambda j, i=i: j.children().apply(i))
              for i in range(n.d["num-children"])]
    return n


def parse(spark, sql: str) -> Node:
    """Parse ``sql``; raises on a syntax error, as ``spark.sql`` would."""
    jplan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    root = _build(iter(json.loads(jplan.toJSON())), None, None)
    root._jvm = jplan
    return root


def frame(spark, node: Node):
    """The query ``node`` as a DataFrame, analysed as ``spark.sql``
    analyses its text. Used where a query's origin is not its whole
    text: an Aggregate's covers only its GROUP BY clause, a Sort's only
    its ORDER BY."""
    from pyspark.sql import DataFrame

    jvm = spark._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(jvm.ofRows(spark._jsparkSession, node.jvm()), spark)


def conjuncts(e: Node) -> list[Node]:
    """Top-level AND conjuncts of a condition, left to right."""
    return conjuncts(e.kids[0]) + conjuncts(e.kids[1]) if e.cls == "And" else [e]


def walk(n: Node):
    """``n`` and every node reachable from it, pre-order, without JVM
    calls: children and the trees in each node's fields (select list,
    condition, SET pairs, CTE bodies, subquery plans; a function's
    FILTER, which repeats a child, is reached twice)."""
    yield n
    for k in n.kids:
        yield from walk(k)
    for f in n.d:
        for t in n.trees(f):
            yield from walk(t)


def _trees(parent: Node, v, step):
    """The trees inside JSON value ``v`` under ``parent``, which ``step``
    reaches on the JVM side: a tree is a list of node dicts, and lists
    and tuples (``_1``, ``_2``) of trees are walked into."""
    if isinstance(v, list) and v and isinstance(v[0], dict) and "num-children" in v[0]:
        yield _build(iter(v), parent, step)
    elif isinstance(v, list):
        for i, x in enumerate(v):
            yield from _trees(parent, x, lambda j, i=i: step(j).apply(i))
    elif isinstance(v, dict):
        for k, x in v.items():
            yield from _trees(parent, x, lambda j, k=k: getattr(step(j), k)())


def _mask_literals(s: str) -> str:
    """Blank out quoted-literal CONTENT (keeping length and the quote
    chars) so paren-depth scans and keyword regexes can run over SQL
    that contains string literals — e.g. WKT in ST_GeomFromText('...').
    Handles doubled-quote escapes ('' and "")."""
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"":
            q = ch
            i += 1
            while i < n:
                if s[i] == "\\" and i + 1 < n:  # backslash escape
                    out[i] = out[i + 1] = " "
                    i += 2
                    continue
                if s[i] == q:
                    if i + 1 < n and s[i + 1] == q:  # doubled escape
                        out[i] = out[i + 1] = " "
                        i += 2
                        continue
                    break
                out[i] = " "
                i += 1
        i += 1
    return "".join(out)
