"""QueryOp — normalized JX query IR.

Reimplements the backend-neutral normalization of the reference's
``QueryOp.wrap`` (vendor/jx_base/query.py:208-795): select/edges/groupby/
window/sort normalization, DEFAULT_LIMIT/MAX_LIMIT caps, groupby-vs-edges
exclusivity, and ``having`` as a post-aggregate filter (an extension:
the reference parses it, then drops it).

The normalized form:

  from_     : str | DataFrame        (dotted path -> nested-table addressing)
  select    : list[SelectClause{name, value, aggregate, default, percentile}]
  edges     : list[EdgeClause{name, value, domain, allowNulls}]
  groupby   : list[EdgeClause] (domain-free grouping)
  where     : JX expression (default TRUE)
  window    : list[WindowClause{name, value, edges, sort, aggregate, range, where}]
  sort      : list[{value, sort: +1|-1}]
  limit     : int | None
  format    : "list" | "table" | "cube"
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

DEFAULT_LIMIT = 10  # reference query.py:35
MAX_LIMIT = 10_000  # reference query.py:36

# canonical aggregate aliases (reference query.py:283-290 canonical_aggregates)
CANONICAL_AGGS = {
    "none": "none",
    "add": "sum",
    "sum": "sum",
    "count": "count",
    "min": "minimum",
    "minimum": "minimum",
    "max": "maximum",
    "maximum": "maximum",
    "avg": "average",
    "mean": "average",
    "average": "average",
    "median": "median",
    "percentile": "percentile",
    "cardinality": "cardinality",
    "stats": "stats",
    "std": "std",
    "stddev": "std",
    "var": "variance",
    "variance": "variance",
    "s0": "s0",
    "s1": "s1",
    "s2": "s2",
    "union": "union",
    "first": "first",
    "last": "last",
    "one": "one",
    "exists": "exists",
    "list": "list",
    "count_distinct": "count_distinct",
}


class QueryError(ValueError):
    pass


@dataclass
class SelectClause:
    name: str
    value: Any  # JX expression; "." = whole row; trailing ".*" = leaves
    aggregate: str = "none"
    default: Any = None
    percentile: float | None = None
    middle: float | None = None  # trimmed-stats fraction (windows.py:126-155)


@dataclass
class EdgeClause:
    name: str
    value: Any
    domain: dict = field(default_factory=lambda: {"type": "default"})
    allowNulls: bool = True
    range: dict | None = None  # edge range {min, max, mode} (query.py:626-634)


@dataclass
class WindowClause:
    name: str
    value: Any = None
    edges: list = field(default_factory=list)
    sort: list = field(default_factory=list)
    aggregate: str | None = None
    range: dict | None = None  # {min, max} row frame
    where: Any = None
    percentile: float | None = None
    middle: float | None = None  # trimmed-stats window (windows.py:126-155)


@dataclass
class QueryOp:
    frum: Any
    select: list[SelectClause] = field(default_factory=list)
    select_is_list: bool = True  # bare-string select returns unwrapped values
    edges: list[EdgeClause] = field(default_factory=list)
    groupby: list[EdgeClause] = field(default_factory=list)
    where: Any = True
    window: list[WindowClause] = field(default_factory=list)
    sort: list = field(default_factory=list)
    limit: int | None = None
    format: str = "list"
    destination: Any = None
    # post-aggregate filter over the RESULT schema (select/edge names).
    # The reference parses `having` then drops it (query.py:244); here it
    # is free: a filter after the aggregate.
    having: Any = None
    # scale switch (no reference analog): percentile/median via KLL sketch
    # (percentile_approx) and cardinality via HLL instead of the exact
    # sort-based / expand forms — the 100 TB recommendation for
    # unbounded-cardinality aggregates
    approx: bool = False

    @classmethod
    def wrap(cls, query: dict) -> "QueryOp":
        if not isinstance(query, dict):
            raise QueryError("JX query must be a JSON object")
        if query.get("groupby") is not None and query.get("edges") is not None:
            raise QueryError("groupby and edges are mutually exclusive (query.py:230)")
        having = query.get("having")
        if having is not None and (
            query.get("groupby") is None
            and query.get("edges") is None
            and not any(
                isinstance(s, dict) and s.get("aggregate")
                for s in _listify(query.get("select"))
            )
        ):
            raise QueryError("having requires groupby, edges, or an aggregate select")

        frum = query.get("from")
        if frum is None:
            raise QueryError("query requires 'from'")

        edges = [_normalize_edge(e) for e in _listify(query.get("edges"))]
        groupby = [_normalize_edge(g, domain_free=True) for g in _listify(query.get("groupby"))]

        select_raw = query.get("select")
        select_is_list = isinstance(select_raw, list) or select_raw is None
        if select_raw is None:
            if edges or groupby:
                select = [SelectClause(name="count", value=".", aggregate="count")]
            else:
                select = [SelectClause(name=".", value=".")]
        else:
            select = [_normalize_select(s, has_dims=bool(edges or groupby)) for s in _listify(select_raw)]

        limit = query.get("limit")
        if limit is None and not (edges or groupby):
            limit = DEFAULT_LIMIT
        if limit is not None:
            limit = min(int(limit), MAX_LIMIT)

        fmt = query.get("format", "list")
        if fmt not in ("list", "table", "cube"):
            raise QueryError(f"unknown format {fmt!r}")

        return cls(
            frum=frum,
            select=select,
            select_is_list=select_is_list,
            edges=edges,
            groupby=groupby,
            where=query.get("where", True),
            window=[_normalize_window(w) for w in _listify(query.get("window"))],
            sort=_normalize_sort(query.get("sort")),
            limit=limit,
            format=fmt,
            destination=query.get("destination"),
            approx=bool(query.get("approx", False)),
            having=having,
        )


def _listify(x) -> list:
    if x is None:
        return []
    return x if isinstance(x, list) else [x]


def _default_name(value: Any) -> str:
    if isinstance(value, str):
        return value
    raise QueryError(f"select of expression requires explicit 'name': {value!r}")


def _normalize_select(s, has_dims: bool) -> SelectClause:
    """Reference _normalize_select (query.py:293-427)."""
    if isinstance(s, str):
        if s == "*":
            return SelectClause(name="*", value="*")
        agg = "none"
        return SelectClause(name=s, value=s, aggregate=agg)
    if not isinstance(s, dict):
        raise QueryError(f"bad select clause {s!r}")
    value = s.get("value", ".")
    name = s.get("name") or _default_name(value)
    agg = s.get("aggregate", "none") or "none"
    if agg not in CANONICAL_AGGS:
        raise QueryError(f"unknown aggregate {agg!r}")
    return SelectClause(
        name=name,
        value=value,
        aggregate=CANONICAL_AGGS[agg],
        default=s.get("default"),
        percentile=s.get("percentile"),
        middle=s.get("middle"),
    )


def _normalize_edge(e, domain_free: bool = False) -> EdgeClause:
    """Reference _normalize_edge/_normalize_groupby (query.py:430-582)."""
    if isinstance(e, str):
        return EdgeClause(name=e, value=e)
    if not isinstance(e, dict):
        raise QueryError(f"bad edge clause {e!r}")
    value = e.get("value")
    name = e.get("name") or (value if isinstance(value, str) else None)
    domain = e.get("domain") or {"type": "default"}
    if isinstance(domain, dict) and "type" not in domain:
        domain = dict(domain)
        domain["type"] = "set" if "partitions" in domain else "default"
    if e.get("range") is not None:
        # edge range {min,max,mode}: value comes from the range bounds
        if name is None:
            raise QueryError("edge with 'range' requires a name")
        return EdgeClause(
            name=name, value=None, domain=domain, allowNulls=e.get("allowNulls", True), range=e["range"]
        )
    if name is None:
        raise QueryError(f"edge requires name or string value: {e!r}")
    if value is None:
        value = name
    return EdgeClause(name=name, value=value, domain=domain, allowNulls=e.get("allowNulls", True))


def _normalize_sort(sort) -> list[dict]:
    """Reference _normalize_sort (query.py:760-795): ±1 direction per key."""
    out = []
    for s in _listify(sort):
        if isinstance(s, str):
            out.append({"value": s, "sort": 1})
        elif isinstance(s, dict):
            if "value" in s:
                direction = s.get("sort", 1)
                out.append({"value": s["value"], "sort": _direction(direction)})
            else:
                # {"field": -1} shorthand
                (k, v), = s.items()
                out.append({"value": k, "sort": _direction(v)})
        else:
            raise QueryError(f"bad sort clause {s!r}")
    return out


def _direction(d) -> int:
    if d in (1, "asc", "+", None):
        return 1
    if d in (-1, "desc", "-"):
        return -1
    raise QueryError(f"bad sort direction {d!r}")


def _normalize_window(w) -> WindowClause:
    """Reference _normalize_window (query.py:607-623)."""
    if not isinstance(w, dict):
        raise QueryError(f"bad window clause {w!r}")
    name = w.get("name")
    if not name:
        raise QueryError("window clause requires 'name'")
    agg = w.get("aggregate")
    if agg is not None:
        if agg not in CANONICAL_AGGS:
            raise QueryError(f"unknown window aggregate {agg!r}")
        agg = CANONICAL_AGGS[agg]
    return WindowClause(
        name=name,
        value=w.get("value"),
        edges=_listify(w.get("edges")),
        sort=_normalize_sort(w.get("sort")),
        aggregate=agg,
        range=w.get("range"),
        where=w.get("where"),
        percentile=w.get("percentile"),
        middle=w.get("middle"),
    )
