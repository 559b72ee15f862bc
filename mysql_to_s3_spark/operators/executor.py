"""QueryOp -> DataFrame plan compiler/executor.

The Spark analog of the reference's three execution backends in one place
(jx_python/jx.py:63-118 `jx.run`, jx_sqlite/query_table.py:84 dispatch):
every clause becomes a declarative DataFrame transformation so Catalyst
handles pushdown/pruning/join selection; nothing is collected to the driver
except the small domain partition lists used to densify cube output.

Pipeline (matches jx.run order, jx.py:92-118):
  from resolution (incl. nested-table dotted paths)
    -> where filter
    -> window columns (jx.py:101-106, applied to the filtered set)
    -> set-op select / groupby agg / edges agg (+densify)
    -> sort -> limit

Scale notes:
  - edges densification left-joins the sparse aggregate onto a dense cube
    computed from a one-partition spark.range, never a cross join against
    the data; no Python worker runs for it.
  - multivalue edge values explode before groupBy (lists/aggs.py:73,87
    product(*coord) semantics) — a shuffle on the exploded key only.
  - nested-table addressing pushes the explode below the filter so
    parquet predicate pushdown still applies to parent columns.
"""

from __future__ import annotations

import functools
import json
import operator as pyop
from typing import Any, Mapping

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_to_s3_spark.functions.aggregates import build_aggregate
from mysql_to_s3_spark.functions.compiler import (
    ARRAY,
    NESTED,
    Compiled,
    Schema,
    compile_expression,
)
from mysql_to_s3_spark.operators.windows import apply_window
from mysql_to_s3_spark.plans.domains import compile_domain, range_edge_buckets
from mysql_to_s3_spark.plans.normalize import EdgeClause, QueryOp, SelectClause


class ExecutionError(ValueError):
    pass


def run(
    query: dict | QueryOp,
    spark: SparkSession | None = None,
    containers: Mapping[str, DataFrame] | None = None,
    sf_dir: str | None = None,
) -> DataFrame:
    """Execute a JX query, returning the result DataFrame.

    ``from`` resolution order: explicit DataFrame in the query, then
    ``containers`` dict, then ``{sf_dir}/{name}.parquet``, then a Spark
    temp view — the Spark analog of the reference's container registry
    (jx_base/container.py:22 type2container).

    ``having`` (beyond-reference): an aggregate query may carry a
    ``having`` JX expression, compiled against the RESULT schema
    (select + edge names) and applied as a plain post-aggregate filter
    — the Spark plan is the same HashAggregate with a Filter on top, no
    extra shuffle.
    """
    q = query if isinstance(query, QueryOp) else QueryOp.wrap(query)
    df = _resolve_from(q.frum, spark, containers, sf_dir)
    schema = Schema.from_spark(df.schema)

    # where: FILTER context — use the raw predicate (Compiled.fcol). A
    # NULL predicate drops the row exactly like FALSE, and the raw form
    # reaches the parquet scan as a pushed-down filter, which the
    # coalesce(missing->FALSE) value form never does.
    if q.where is not True:
        cond = compile_expression(q.where, schema)
        df = df.filter(cond.fcol.cast("boolean"))

    # window clauses add columns on the filtered set (jx.py:101-106)
    for w in q.window:
        df = apply_window(df, w, schema)
        schema = Schema.from_spark(df.schema)

    if q.edges:
        df = _edges_op(df, q, schema)
    elif q.groupby:
        df = _groupby_op(df, q, schema)
    elif any(s.aggregate != "none" for s in q.select):
        df = _scalar_agg_op(df, q, schema)
    elif q.having is not None:
        raise ExecutionError("having requires groupby, edges, or an aggregate select")
    else:
        # set-op order is filter -> sort -> select (jx.py:95-99): sort keys
        # need not appear in the projection. Aliases of computed selects are
        # resolved back to their expressions.
        if q.sort:
            df = df.orderBy(*[_setop_sort_col(s, schema, q.select) for s in q.sort])
        if q.limit is not None:
            df = df.limit(q.limit)
        return _set_op(df, q, schema)

    if q.having is not None:
        # filter context over the result schema, same null->drop stance
        # as `where` (a NULL having verdict drops the group like FALSE)
        hcond = compile_expression(q.having, Schema.from_spark(df.schema))
        df = df.filter(hcond.fcol.cast("boolean"))

    # aggregate paths sort the RESULT (edge/agg names), nulls least
    if q.sort:
        df = df.orderBy(*[_sort_col(s, Schema.from_spark(df.schema)) for s in q.sort])

    if q.limit is not None:
        df = df.limit(q.limit)
    return df


# ---------------------------------------------------------------------------
# from resolution


def _resolve_from(frum: Any, spark, containers, sf_dir) -> DataFrame:
    if isinstance(frum, DataFrame):
        return frum
    if isinstance(frum, dict):
        # subquery
        return run(frum, spark, containers, sf_dir)
    if not isinstance(frum, str):
        raise ExecutionError(f"cannot resolve from={frum!r}")

    parts = frum.split(".")
    for cut in range(len(parts), 0, -1):
        base_name = ".".join(parts[:cut])
        base = _load_container(base_name, spark, containers, sf_dir)
        if base is not None:
            nested_path = parts[cut:]
            for step in nested_path:
                base = _explode_nested(base, step)
            return base
    raise ExecutionError(f"unknown container {frum!r}")


def _load_container(name: str, spark, containers, sf_dir) -> DataFrame | None:
    if containers and name in containers:
        return containers[name]
    if sf_dir is not None and spark is not None:
        import os

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            from mysql_to_s3_spark.sources.registry import load_table

            return load_table(spark, sf_dir, name)
    if spark is not None:
        # ask the catalog first: spark.table on an unknown dotted name
        # ("fact.items") reads it as SQL-on-file and starts Spark's Python
        # data-source lookup worker before it fails
        try:
            if spark.catalog.tableExists(name):
                return spark.table(name)
        except AnalysisException:  # a name the parser rejects, e.g. "a b"
            return None
    return None


def _explode_nested(df: DataFrame, array_col: str) -> DataFrame:
    """Nested-table addressing ``from: "fact.nested1"`` (query_table.py:89-93).

    One row per array element; element struct fields become top-level columns
    (relative names), parent scalars stay addressable by their names.
    """
    field = next((f for f in df.schema.fields if f.name == array_col), None)
    if field is None or not isinstance(field.dataType, T.ArrayType):
        raise ExecutionError(f"{array_col!r} is not a nested (array) column")
    others = [c for c in df.columns if c != array_col]
    exploded = df.select(*others, F.explode(array_col).alias("__elem__"))
    if isinstance(field.dataType.elementType, T.StructType):
        child_fields = [f"__elem__.{f.name}" for f in field.dataType.elementType.fields]
        # child fields shadow parent columns of the same name
        child_names = {f.name for f in field.dataType.elementType.fields}
        keep = [c for c in others if c not in child_names]
        return exploded.select(*keep, *child_fields)
    return exploded.select(*others, F.col("__elem__").alias(array_col))


# ---------------------------------------------------------------------------
# set-op (filter/select/sort/limit)  — jx.py:92-99, setop_table.py


def _set_op(df: DataFrame, q: QueryOp, schema: Schema) -> DataFrame:
    cols: list[Column] = []
    for s in q.select:
        cols.extend(_select_columns(df, s, schema))
    return df.select(*cols)


def _select_columns(df: DataFrame, s: SelectClause, schema: Schema) -> list[Column]:
    v = s.value
    if v == ".":
        # whole document — reference physical columns by LITERAL name
        # (backtick-quoted): a column named '.' or 'a.b' must not be
        # parsed as a dotted path here
        if s.name == ".":
            return [_qname(c) for c in df.columns]
        return [F.struct(*[_qname(c) for c in df.columns]).alias(s.name)]
    if v == "*":
        return [F.col(c).alias(c) for c in _leaf_columns(df.schema)]
    if isinstance(v, str) and v.endswith(".*"):
        prefix = v[:-2]
        field = next((f for f in df.schema.fields if f.name == prefix), None)
        if field is not None and isinstance(field.dataType, T.StructType):
            return [F.col(f"{prefix}.{f.name}").alias(f"{prefix}.{f.name}") for f in field.dataType.fields]
        raise ExecutionError(f"leaves select {v!r}: {prefix!r} is not a struct")
    c = compile_expression(v, schema)
    out = c.col
    if s.default is not None:
        dflt = compile_expression(s.default, schema)
        out = F.when(c.missing, dflt.col).otherwise(out)
    return [out.alias(s.name)]


def _leaf_columns(schema: T.StructType, prefix: str = "") -> list[str]:
    out = []
    for f in schema.fields:
        if isinstance(f.dataType, T.StructType):
            out.extend(_leaf_columns(f.dataType, prefix + f.name + "."))
        else:
            out.append(prefix + f.name)
    return out


# ---------------------------------------------------------------------------
# aggregation


def _qname(name: str) -> Column:
    """Column reference by LITERAL name — backtick-quoted with backticks
    escaped. Select names may contain dots (the engine's default name IS
    the value path), and a bare F.col("a.b") parses as field b of
    column a."""
    return F.col("`" + name.replace("`", "``") + "`")


def _agg_column(df: DataFrame, s: SelectClause, schema: Schema, approx: bool = False) -> Column:
    if s.value == ".":
        base = F.lit(1)
        c = Compiled(base, "integer", F.lit(False))
    else:
        c = compile_expression(s.value, schema)
    col = c.col
    if s.aggregate == "count":
        # count of non-missing (JX missing ⊇ {null, ""}): count(when(exists))
        agg = F.count(F.when(~c.missing, F.lit(1)))
    else:
        agg = build_aggregate(s.aggregate, col, percentile=s.percentile, middle=s.middle, approx=approx)
    if s.default is not None:
        dflt = compile_expression(s.default, schema)
        agg = F.coalesce(agg, dflt.col)
    return agg.alias(s.name)


def _check_agg_selects(q: QueryOp, key_values: set) -> None:
    """An aggregate query must not silently drop plain selects — error
    unless the select is just the group key (already in the output)."""
    for s in q.select:
        if s.aggregate == "none" and s.value not in key_values:
            raise ExecutionError(
                f"select {s.name!r} needs an 'aggregate' in a groupby/edges/aggregate query"
            )


# scalar-aggregate classes that poison a combined .agg(): exact
# percentiles/medians (ObjectHashAggregate buffering the whole column)
# and exact distincts (an Expand that doubles every input row through
# the aggregate — including the percentile buffers' share of it)
_PCT_AGGS = frozenset({"median", "percentile", "stats"})
_DISTINCT_AGGS = frozenset({"cardinality", "count_distinct", "one"})


def _scalar_agg_class(s: SelectClause, approx: bool) -> int:
    """0 = cheap partial-aggregable, 1 = whole-column buffers (exact
    percentile / the stats bundle — incl. trimmed stats' collect_list),
    2 = exact-distinct (Expand). approx demotes median/percentile to
    the KLL sketch and cardinality to HLL (both class 0); it does NOT
    demote the stats bundle (build_aggregate keeps its exact median)
    or count_distinct (always exact by contract)."""
    if s.aggregate == "stats":
        return 1  # exact median inside the bundle; middle= is collect_list
    if not approx and s.aggregate in _PCT_AGGS:
        return 1
    if s.aggregate in _DISTINCT_AGGS and not (approx and s.aggregate == "cardinality"):
        return 2
    return 0


def _scalar_agg_op(df: DataFrame, q: QueryOp, schema: Schema) -> DataFrame:
    """Scalar (no groupby/edges) aggregation.

    Mixed aggregate classes are split into up to three SEPARATE
    one-row aggregations cross-joined back (still one lazy plan):
    keeping exact percentiles and exact distincts in the same .agg()
    as everything else forces the whole row stream through an Expand
    (x2 rows) into one ObjectHashAggregate — measured 2.33 s vs 1.82 s
    split at sf0.1 for the 15-aggregate driver row. The split buys
    that with one extra column-pruned scan per extra class — the right
    trade until the scan itself dominates, at which point the 100 TB
    answer is `approx:true` (KLL/HLL sketches aggregate like cheap
    columns and the query collapses back to ONE scan).

    Consistency caveat: the split runs up to three INDEPENDENT scans
    of the input, so for non-deterministic lineage (rand()-derived
    columns, sampling without a seed, a source mutating between jobs)
    the per-class aggregates in the single output row can disagree
    about what data they saw, where the old single .agg() saw one
    snapshot. Registered queries all read immutable parquet with
    deterministic lineage, so this is a caveat, not a bug; callers
    feeding non-deterministic frames should `df.localCheckpoint()`
    (or cache + materialize) before the scalar aggregate."""
    _check_agg_selects(q, set())
    selects = [s for s in q.select if s.aggregate != "none"]
    groups: dict[int, list] = {0: [], 1: [], 2: []}
    for s in selects:
        groups[_scalar_agg_class(s, q.approx)].append(s)
    live = [g for g in (0, 1, 2) if groups[g]]
    if len(live) < 2:
        return df.agg(*[_agg_column(df, s, schema, approx=q.approx) for s in selects])
    out = None
    for g in live:
        part = df.agg(*[_agg_column(df, s, schema, approx=q.approx) for s in groups[g]])
        out = part if out is None else out.crossJoin(part)
    return out.select(*[_qname(s.name) for s in selects])


def _groupby_op(df: DataFrame, q: QueryOp, schema: Schema) -> DataFrame:
    """groupby: sparse groups, null groups kept (query.py:520-582)."""
    _check_agg_selects(q, {g.value for g in q.groupby if isinstance(g.value, str)})
    keys, df = _edge_keys(df, q.groupby, schema, densify=False)
    aggs = [_agg_column(df, s, schema, approx=q.approx) for s in q.select if s.aggregate != "none"]
    out = df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    return out.select(
        *[F.col(k).alias(e.name) for k, e in zip(keys, q.groupby)],
        *[_qname(s.name) for s in q.select if s.aggregate != "none"],
    )


def _edges_op(df: DataFrame, q: QueryOp, schema: Schema) -> DataFrame:
    """edges: dimensional group-by with declared domains, DENSE output —
    every domain part appears even when empty, plus a null bucket when
    allowNulls (lists/aggs.py:35-103). Densify = left-join the sparse
    aggregate onto the dense cube of domain parts (``_dense_cube``);
    count-like aggregates fill 0, others stay NULL (Matrix-of-accumulators
    semantics)."""
    spark = df.sparkSession
    _check_agg_selects(q, {e.value for e in q.edges if isinstance(e.value, str)})
    keys, df2 = _edge_keys(df, q.edges, schema, densify=True)
    sel_aggs = [s for s in q.select if s.aggregate != "none"]
    aggs = [_agg_column(df2, s, schema, approx=q.approx) for s in sel_aggs]
    sparse = df2.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    doms = [
        compile_domain(e.domain if e.range is None else {**e.domain, "type": e.domain.get("type", "range")})
        for e in q.edges
    ]
    if any(dom.part_values is None for dom in doms):
        # a default domain's discovery collect reads sparse, and so does
        # the densify join: checkpoint so the scan+shuffle+agg runs once.
        # Spark frees the checkpoint with the frame; nothing outlives it.
        sparse = sparse.localCheckpoint(eager=False)

    # Dense cube frame: the cross product of per-edge part lists. Every
    # domain is bounded (declared parts or capped discovery), so this is the
    # same dense Matrix the reference materializes (lists/aggs.py:60).
    cube_edges = []
    for e, key, dom in zip(q.edges, keys, doms):
        vals = dom.part_values
        if vals is None:
            # default domain: parts discovered from the data
            # (lists/aggs.py:40-46), capped by the edge/query limit and
            # sorted like SimpleSetDomain(partitions=sorted(...)); the
            # collect is bounded so a high-cardinality edge cannot OOM
            # the driver
            cap = _default_domain_cap(e, q)
            vals = [
                r[0]
                for r in sparse.select(F.col(key))
                .where(F.col(key).isNotNull())
                .distinct()
                .orderBy(F.col(key))
                .limit(cap)
                .collect()
            ]
        if e.allowNulls:
            vals = list(vals) + [None]
        cube_edges.append((key, vals, sparse.schema[key].dataType, dom.is_time))

    d = _dense_cube(spark, cube_edges).alias("__dense__")
    sp = sparse.alias("__sparse__")
    cond = functools.reduce(
        pyop.and_, [F.col(f"__dense__.{k}").eqNullSafe(F.col(f"__sparse__.{k}")) for k in keys]
    )
    # No broadcast hint: the outer-preserved side is `dense`, and Spark's
    # broadcast hash join cannot build the preserved side of a left-outer
    # join, so hinting would either broadcast the data-derived `sparse`
    # (unbounded at scale) or be ignored. AQE converts this to a broadcast
    # join at runtime when the post-agg `sparse` is actually small.
    result = d.join(sp, on=cond, how="left")

    # empty cells: count-family fills 0 (accumulator start state).
    # Folded into the select as coalesce — fillna() resolves dict
    # keys by parsing, so a dotted select name would fail there
    def _cell(s: SelectClause) -> Column:
        c = F.col("__sparse__.`" + s.name.replace("`", "``") + "`")
        if s.aggregate in ("count", "cardinality", "count_distinct", "s0"):
            c = F.coalesce(c, F.lit(0))
        return c.alias(s.name)

    result = result.select(
        *[F.col(f"__dense__.{k}").alias(k) for k in keys],
        *[_cell(s) for s in sel_aggs],
    )
    # rows outside every domain part (bucket keys NULL but allowNulls
    # False) were joined away; drop disallowed null buckets
    for e, key in zip(q.edges, keys):
        if not e.allowNulls:
            result = result.filter(F.col(key).isNotNull())

    return result.select(
        *[F.col(k).alias(e.name) for k, e in zip(keys, q.edges)],
        *[_qname(s.name) for s in sel_aggs],
    )


def _dense_cube(spark: SparkSession, edges: list[tuple[str, list, T.DataType, bool]]) -> DataFrame:
    """One row per cell of ``itertools.product`` of the edges' part lists,
    in that order, in one partition, computed in the JVM from
    ``spark.range`` — a driver-built frame here would pickle every cell and
    run a Python worker task.

    ``edges`` holds ``(key, parts, key type, is_time)`` per edge; time
    parts are epoch seconds. Cell ``id`` takes part
    ``floor(id / stride) % len(parts)`` of each edge (row-major: the last
    edge varies fastest) from one array literal per edge, so the plan grows
    with the sum of the part counts, not with their product."""
    n_cells = functools.reduce(pyop.mul, [len(parts) for _, parts, _, _ in edges], 1)
    if n_cells > 10_000_000:
        raise ExecutionError(
            f"dense cube would have {n_cells} cells; cap edge domains (format=cube is a dense output)"
        )
    cols: list[Column] = []
    stride = n_cells
    for key, parts, dtype, is_time in edges:
        if not parts:
            # an empty domain empties the cube; the column keeps its type
            cols.append(F.lit(None).cast(dtype).alias(key))
            continue
        stride //= len(parts)
        cell = _part_array(parts)[(F.floor(F.col("id") / F.lit(stride)) % F.lit(len(parts))).cast("int")]
        if is_time:
            cell = F.timestamp_seconds(cell)
        cols.append(cell.cast(dtype).alias(key))
    return spark.range(0, n_cells, 1, 1).select(*cols)


def _part_array(parts: list) -> Column:
    """One edge's parts as an array literal. Strings, booleans and numbers
    travel as one JSON string that Catalyst parses once and folds into a
    literal, so a large domain costs a fixed number of py4j calls; other
    values (dates, decimals from a discovered domain) take one ``lit``
    each."""
    kinds = {type(v) for v in parts} - {type(None)}
    for allowed, elem in (({str}, "string"), ({bool}, "boolean"), ({int}, "bigint"), ({int, float}, "double")):
        if kinds <= allowed:
            return F.from_json(F.lit(json.dumps(parts)), f"array<{elem}>", {"mode": "FAILFAST"})
    return F.array(*[F.lit(v) for v in parts])


def _default_domain_cap(e: EdgeClause, q: QueryOp) -> int:
    """Part-count cap for runtime-discovered (default) domains — the
    reference caps discovery by the domain/query limit (jx_base/query.py:35,
    lists/aggs.py:40-46)."""
    from mysql_to_s3_spark.plans.normalize import MAX_LIMIT

    for cand in (e.domain.get("limit"), q.limit):
        if cand:
            return min(int(cand), MAX_LIMIT)
    return MAX_LIMIT


def _edge_keys(
    df: DataFrame, edges: list[EdgeClause], schema: Schema, densify: bool
) -> tuple[list[str], DataFrame]:
    """Materialize one bucket-key column per edge; explode multivalue edges
    (a row contributes to every matching coordinate, lists/aggs.py:73,87).

    Bucket keys live under reserved internal names so an edge named after its
    source column never clobbers the raw column that select aggregates read
    (e.g. edges:[{value:"x", domain:range}] + select avg("x"))."""
    keys: list[str] = []
    for i, e in enumerate(edges):
        key = f"__edge{i}__"
        keys.append(key)
        if e.range is not None:
            rmin = compile_expression(e.range["min"], schema).col
            rmax = compile_expression(e.range["max"], schema).col
            buckets = range_edge_buckets(rmin, rmax, e.domain, e.range.get("mode", "inclusive"))
            df = df.withColumn(key, F.explode_outer(buckets))
            continue
        dom = compile_domain(e.domain)
        if dom.where_parts is not None:
            # general set: one when-chain, first matching part wins
            # (GeneralSetDecoder es52/decoders.py:348 ANDs each filter with
            # NOT(previous) — first-match is the same row assignment);
            # value form of each predicate maps missing -> FALSE
            chain = None
            for p, nm in zip(dom.where_parts, dom.part_values):
                cond = compile_expression(p["where"], schema).col
                chain = F.when(cond, F.lit(nm)) if chain is None else chain.when(cond, F.lit(nm))
            df = df.withColumn(key, chain)
            continue
        c = compile_expression(e.value, schema)
        if c.jxtype in (ARRAY, NESTED):
            df = df.withColumn(key, F.explode_outer(c.col))
            df = df.withColumn(key, dom.bucket(F.col(key)))
        else:
            df = df.withColumn(key, dom.bucket(c.col))
        if dom.part_values is not None:
            # values outside the declared domain -> null bucket
            if e.domain.get("type") in ("set", "simple set"):
                pv = dom.part_values
                df = df.withColumn(key, F.when(F.col(key).isin(pv), F.col(key)))
    return keys, df


def _jx_order_col(c) -> Column:
    """Sort expression for a compiled key: variant (mixed-type) columns
    order by value_compare's TYPE_ORDER via a struct key (jx.py:562-627
    — boolean < number < string < missing); single-typed columns by
    value."""
    from mysql_to_s3_spark.functions import variants

    if c.spark_type == variants.VARIANT_TYPE.simpleString():
        return variants.sort_key(c.col)
    return c.col


def _sort_col(s: dict, schema: Schema) -> Column:
    c = compile_expression(s["value"], schema)
    col = _jx_order_col(c)
    # nulls sort least in JX total order (jx.py:562-627)
    return col.asc_nulls_first() if s["sort"] >= 0 else col.desc_nulls_last()


def _setop_sort_col(s: dict, schema: Schema, selects: list[SelectClause]) -> Column:
    """Pre-projection sort key; a name that is only a select alias (computed
    column) resolves to that select's expression."""
    from mysql_to_s3_spark.functions.compiler import UNKNOWN

    v = s["value"]
    if isinstance(v, str) and schema.type_of(v) == UNKNOWN:
        match = next((sel for sel in selects if sel.name == v), None)
        if match is not None:
            v = match.value
    c = compile_expression(v, schema)
    col = _jx_order_col(c)
    return col.asc_nulls_first() if s["sort"] >= 0 else col.desc_nulls_last()
