"""The JX query mix: ten request templates, each with DuckDB SQL that
computes the same answer over the same parquet files.

A template turns a seeded generator into one concrete request. Constants
are drawn on a log scale so the rows a request touches span about three
orders of magnitude. Every request states its JX query, the SQL whose
rows its formatted result must equal, and whether row order matters.
"""

from __future__ import annotations

import datetime as dt
import math
from dataclasses import dataclass, field

import numpy as np

from perfbench.inputs import Stats


@dataclass
class Request:
    template: str
    query: dict
    sql: str
    ordered: bool
    # the row count of the table the request reads (the jx_mix rows metric)
    input_rows: int = 0
    tables: list[str] = field(default_factory=list)


def _day(n: Stats, days: float) -> str:
    return (n.day0 + dt.timedelta(days=int(days))).strftime("%Y-%m-%d")


def _logu(r: np.random.Generator, lo: float, hi: float) -> float:
    """Log-uniform draw in [lo, hi]."""
    return float(10 ** r.uniform(math.log10(lo), math.log10(hi)))


def filter_sort_limit(r, n: Stats) -> Request:
    q = int(r.integers(1, 50))
    p = round(_logu(r, 2_000, 105_000), 2)
    flag = ("A", "N", "R")[int(r.integers(0, 3))]
    limit = (100, 1000, 10_000)[int(r.integers(0, 3))]
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    return Request(
        "filter_sort_limit",
        {
            "from": "lineitem",
            "select": cols,
            "where": {"and": [
                {"gte": {"l_quantity": q}},
                {"lt": {"l_extendedprice": p}},
                {"eq": {"l_returnflag": flag}},
            ]},
            "sort": [{"value": "l_extendedprice", "sort": -1}, "l_orderkey", "l_linenumber"],
            "limit": limit,
            "format": "list",
        },
        f"""SELECT {', '.join(cols)} FROM lineitem
            WHERE l_quantity >= {q} AND l_extendedprice < {p} AND l_returnflag = '{flag}'
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {limit}""",
        ordered=True,
        tables=["lineitem"],
    )


def orders_window_table(r, n: Stats) -> Request:
    d0 = int(r.integers(0, n.order_days - 30))
    span = max(1, int(_logu(r, 3, n.order_days)))
    status = ("F", "O")[int(r.integers(0, 2))]
    limit = (100, 1000, 10_000)[int(r.integers(0, 3))]
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    return Request(
        "orders_window_table",
        {
            "from": "orders",
            "select": cols,
            "where": {"and": [
                {"gte": [{"unix": "o_orderdate"}, {"date": _day(n, d0)}]},
                {"lt": [{"unix": "o_orderdate"}, {"date": _day(n, d0 + span)}]},
                {"eq": {"o_orderstatus": status}},
            ]},
            "sort": ["o_orderkey"],
            "limit": limit,
            "format": "table",
        },
        f"""SELECT {', '.join(cols)} FROM orders
            WHERE o_orderdate >= TIMESTAMP '{_day(n, d0)}' AND o_orderdate < TIMESTAMP '{_day(n, d0 + span)}'
              AND o_orderstatus = '{status}'
            ORDER BY o_orderkey LIMIT {limit}""",
        ordered=True,
        tables=["orders"],
    )


def groupby_flags(r, n: Stats) -> Request:
    d = _day(n, _logu(r, 30, n.order_days + 121))
    fmt = ("table", "list", "cube")[int(r.integers(0, 3))]
    return Request(
        "groupby_flags",
        {
            "from": "lineitem",
            "groupby": ["l_returnflag", "l_linestatus"],
            "select": [
                {"name": "sum_qty", "value": "l_quantity", "aggregate": "sum"},
                {"name": "avg_price", "value": "l_extendedprice", "aggregate": "average"},
                {"name": "n", "value": ".", "aggregate": "count"},
            ],
            "where": {"lte": [{"unix": "l_shipdate"}, {"date": d}]},
            "format": fmt,
        },
        f"""SELECT l_returnflag, l_linestatus, sum(l_quantity), avg(l_extendedprice), count(*)
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d}' GROUP BY 1, 2""",
        ordered=False,
        tables=["lineitem"],
    )


def scalar_aggregates(r, n: Stats) -> Request:
    c = int(_logu(r, 10, n.customers))
    return Request(
        "scalar_aggregates",
        {
            "from": "orders",
            "select": [
                {"name": "total", "value": "o_totalprice", "aggregate": "sum"},
                {"name": "hi", "value": "o_totalprice", "aggregate": "max"},
                {"name": "lo", "value": "o_totalprice", "aggregate": "min"},
                {"name": "n", "value": ".", "aggregate": "count"},
                {"name": "mean", "value": "o_totalprice", "aggregate": "average"},
            ],
            "where": {"lt": {"o_custkey": c}},
            "format": "cube",
        },
        f"""SELECT sum(o_totalprice), max(o_totalprice), min(o_totalprice), count(*),
                   avg(o_totalprice)
            FROM orders WHERE o_custkey < {c}""",
        ordered=False,
        tables=["orders"],
    )


def edges_range(r, n: Stats) -> Request:
    w = (5, 10, 25)[int(r.integers(0, 3))]
    disc = round(int(r.integers(0, 11)) * 0.01, 2)
    k = int(_logu(r, 100, n.orders))
    parts = ", ".join(f"{float(b)}" for b in range(0, 50, w))
    return Request(
        "edges_range",
        {
            "from": "lineitem",
            "edges": [{
                "name": "qty",
                "value": "l_quantity",
                "allowNulls": False,
                "domain": {"type": "range", "min": 0, "max": 50, "interval": w},
            }],
            "select": [
                {"name": "n", "value": ".", "aggregate": "count"},
                {"name": "rev", "value": "l_extendedprice", "aggregate": "sum"},
            ],
            "where": {"and": [{"gte": {"l_discount": disc}}, {"lt": {"l_orderkey": k}}]},
            "format": "cube",
        },
        f"""WITH parts AS (SELECT unnest([{parts}]) AS qty),
                 agg AS (SELECT floor(l_quantity / {w}) * {w} AS qty, count(*) AS n,
                                sum(l_extendedprice) AS rev
                         FROM lineitem
                         WHERE l_discount >= {disc} AND l_orderkey < {k}
                           AND l_quantity >= 0 AND l_quantity < 50
                         GROUP BY 1)
            SELECT parts.qty, coalesce(agg.n, 0), agg.rev FROM parts LEFT JOIN agg USING (qty)""",
        ordered=False,
        tables=["lineitem"],
    )


def edges_time(r, n: Stats) -> Request:
    interval = ("week", "month")[int(r.integers(0, 2))]
    start = n.day0 + dt.timedelta(days=int(r.integers(0, n.order_days - 400)))
    start = start.replace(day=1)
    months = int(r.integers(2, 13))
    end = (start.replace(day=28) + dt.timedelta(days=31 * months)).replace(day=1)
    price = round(_logu(r, 900, 449_000), 2)
    s0, s1 = start.strftime("%Y-%m-%d"), end.strftime("%Y-%m-%d")
    if interval == "week":
        n_parts = math.ceil((end - start).days / 7)
        bucket = (f"TIMESTAMP '{s0}' + INTERVAL 1 SECOND * (604800 * CAST(floor("
                  f"date_diff('second', TIMESTAMP '{s0}', o_orderdate) / 604800) AS BIGINT))")
        parts = (f"SELECT TIMESTAMP '{s0}' + INTERVAL 1 SECOND * (604800 * g.x) AS b "
                 f"FROM generate_series(0, {n_parts - 1}) g(x)")
    else:
        bucket = "date_trunc('month', o_orderdate)"
        parts = (f"SELECT unnest(generate_series(TIMESTAMP '{s0}', TIMESTAMP '{s1}' "
                 f"- INTERVAL 1 DAY, INTERVAL 1 MONTH)) AS b")
    return Request(
        "edges_time",
        {
            "from": "orders",
            "edges": [{
                "name": "b",
                "value": "o_orderdate",
                "allowNulls": False,
                "domain": {"type": "time", "min": s0, "max": s1, "interval": interval},
            }],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
            "where": {"gt": {"o_totalprice": price}},
            "format": "cube",
        },
        f"""WITH parts AS ({parts}),
                 agg AS (SELECT {bucket} AS b, count(*) AS n FROM orders
                         WHERE o_totalprice > {price}
                           AND o_orderdate >= TIMESTAMP '{s0}' AND o_orderdate < TIMESTAMP '{s1}'
                         GROUP BY 1)
            SELECT parts.b, coalesce(agg.n, 0) FROM parts LEFT JOIN agg USING (b)""",
        ordered=False,
        tables=["orders"],
    )


def edges_set(r, n: Stats) -> Request:
    k = int(r.integers(2, 5))
    parts = [n.segments[i] for i in sorted(r.choice(len(n.segments), k, replace=False))]
    if r.random() < 0.3:
        parts.append("NOSUCH")
    allow_nulls = bool(r.random() < 0.5)
    bal = round(_logu(r, 10, 10_990) - 1000.0, 2)
    lits = ", ".join(f"('{p}')" for p in parts) + (", (NULL)" if allow_nulls else "")
    inlist = ", ".join(f"'{p}'" for p in parts)
    seg = f"CASE WHEN c_mktsegment IN ({inlist}) THEN c_mktsegment END" if allow_nulls else "c_mktsegment"
    keep = "" if allow_nulls else f"AND c_mktsegment IN ({inlist})"
    return Request(
        "edges_set",
        {
            "from": "customer",
            "edges": [{
                "name": "seg",
                "value": "c_mktsegment",
                "allowNulls": allow_nulls,
                "domain": {"type": "set", "partitions": parts},
            }],
            "select": [
                {"name": "n", "value": ".", "aggregate": "count"},
                {"name": "bal", "value": "c_acctbal", "aggregate": "average"},
            ],
            "where": {"gt": {"c_acctbal": bal}},
            "format": "cube",
        },
        f"""WITH parts(seg) AS (VALUES {lits}),
                 agg AS (SELECT {seg} AS seg, count(*) AS n, avg(c_acctbal) AS bal
                         FROM customer WHERE c_acctbal > {bal} {keep} GROUP BY 1)
            SELECT parts.seg, coalesce(agg.n, 0), agg.bal
            FROM parts LEFT JOIN agg ON parts.seg IS NOT DISTINCT FROM agg.seg""",
        ordered=False,
        tables=["customer"],
    )


def edges_default(r, n: Stats) -> Request:
    k = int(_logu(r, 20, n.orders))
    return Request(
        "edges_default",
        {
            "from": "lineitem",
            "edges": [
                {"name": "flag", "value": "l_returnflag", "allowNulls": False},
                {"name": "status", "value": "l_linestatus", "allowNulls": False},
            ],
            "select": [
                {"name": "total", "value": "l_quantity", "aggregate": "sum"},
                {"name": "n", "value": ".", "aggregate": "count"},
            ],
            "where": {"lt": {"l_orderkey": k}},
            "format": "cube",
        },
        f"""WITH li AS (SELECT * FROM lineitem WHERE l_orderkey < {k}),
                 f AS (SELECT DISTINCT l_returnflag AS flag FROM li),
                 s AS (SELECT DISTINCT l_linestatus AS status FROM li),
                 agg AS (SELECT l_returnflag AS flag, l_linestatus AS status,
                                sum(l_quantity) AS total, count(*) AS n
                         FROM li GROUP BY 1, 2)
            SELECT f.flag, s.status, agg.total, coalesce(agg.n, 0)
            FROM f CROSS JOIN s LEFT JOIN agg USING (flag, status)""",
        ordered=False,
        tables=["lineitem"],
    )


def window_running(r, n: Stats) -> Request:
    k = int(_logu(r, 5, 2500))
    return Request(
        "window_running",
        {
            "from": "lineitem",
            "where": {"lt": {"l_orderkey": k}},
            "window": [
                {
                    "name": "running_qty",
                    "value": "l_quantity",
                    "aggregate": "sum",
                    "edges": ["l_orderkey"],
                    "sort": ["l_linenumber"],
                    "range": {"min": None, "max": 1},
                },
                {"name": "seq", "edges": ["l_orderkey"], "sort": ["l_linenumber"]},
            ],
            "select": ["l_orderkey", "l_linenumber", "running_qty", "seq"],
            "sort": ["l_orderkey", "l_linenumber"],
            "limit": 10_000,
            "format": "list",
        },
        f"""SELECT l_orderkey, l_linenumber,
                   sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1
            FROM lineitem WHERE l_orderkey < {k}
            ORDER BY l_orderkey, l_linenumber LIMIT 10000""",
        ordered=True,
        tables=["lineitem"],
    )


def nested_from(r, n: Stats) -> Request:
    price = round(_logu(r, 900, 449_000), 2)
    return Request(
        "nested_from",
        {
            "from": "fact.items",
            "select": [
                {"name": "total", "value": "l_quantity", "aggregate": "sum"},
                {"name": "n", "value": ".", "aggregate": "count"},
            ],
            "where": {"gt": {"o_totalprice": price}},
            "format": "list",
        },
        f"""SELECT sum(l_quantity), count(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > {price})""",
        ordered=False,
        tables=["orders", "lineitem"],
    )


TEMPLATES = [
    filter_sort_limit,
    orders_window_table,
    groupby_flags,
    scalar_aggregates,
    edges_range,
    edges_time,
    edges_set,
    edges_default,
    window_running,
    nested_from,
]
# one request in four repeats an earlier one verbatim, like a dashboard
# refresh; the repeated templates are fixed so every block has the same mix
REPEATED = ("groupby_flags", "edges_time", "filter_sort_limit")


def request_stream(rng: np.random.Generator, stats: Stats, blocks: int) -> list[Request]:
    """Blocks of every template once, in seeded order, plus a verbatim
    repeat of each REPEATED request at a seeded later position. Whole
    blocks keep the template mix of a run fixed, whatever the seed."""
    out: list[Request] = []
    for _ in range(blocks):
        block = [TEMPLATES[i](rng, stats) for i in rng.permutation(len(TEMPLATES))]
        for name in REPEATED:
            src = next(i for i, r in enumerate(block) if r.template == name)
            block.insert(int(rng.integers(src + 1, len(block) + 1)), block[src])
        out.extend(block)
    for req in out:
        req.input_rows = sum(stats.rows[t] for t in req.tables)
    return out


def block_size() -> int:
    return len(TEMPLATES) + len(REPEATED)


# ---------------------------------------------------------------------------
# formatted result -> rows


def norm_value(v):
    """Comparable form: datetimes as UTC epoch seconds, numbers as floats."""
    if isinstance(v, dt.datetime):
        return (v if v.tzinfo else v.replace(tzinfo=dt.timezone.utc)).timestamp()
    if isinstance(v, (bool, str)) or v is None:
        return v
    return float(v) if hasattr(v, "__float__") else v


def _cube_rows(res: dict) -> list[tuple]:
    edges = res["edges"]
    data = res["data"]
    names = list(data)
    if edges and edges[0].get("name") == "rownum":
        n = edges[0]["domain"]["max"]
        return [tuple(data[k][i] for k in names) for i in range(n)]
    parts = [[p["value"] for p in e["domain"]["partitions"]] for e in edges]
    rows = []

    def walk(depth: int, coord: list, cells: list):
        if depth == len(parts):
            rows.append(tuple(coord) + tuple(cells))
            return
        for i, v in enumerate(parts[depth]):
            walk(depth + 1, coord + [v], [c[i] for c in cells])

    walk(0, [], [data[k] for k in names])
    return rows


def result_rows(res, fmt: str) -> list[tuple]:
    """Rows of a formatted JX result, values normalized for comparison."""
    if fmt == "table":
        rows = [tuple(r) for r in res["data"]]
    elif fmt == "cube":
        rows = _cube_rows(res)
    else:
        rows = [tuple(d.values()) for d in res]
    return [tuple(norm_value(v) for v in r) for r in rows]


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _key(row: tuple):
    return tuple((v is None, "" if v is None else str(type(v)), v if v is not None else 0) for v in row)


def rows_match(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    return all(len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))
