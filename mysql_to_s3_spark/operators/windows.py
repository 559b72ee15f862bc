"""JX window clause -> Spark Window translation (SURVEY.md §2.5).

Reference semantics (jx_python/jx.py:971-1037):
  - no aggregate, no edges  -> computed column over sorted rows
  - no aggregate, edges     -> per-partition computed column; magic vars
                               `rownum` (0-based row index), `rows` access
  - aggregate + range{min,max} -> sliding row-frame aggregate
  - `where` pre-filters rows considered by the window (jx.py:984):
    compiled as when(cond, value) inside the aggregate so frame alignment
    is preserved without a join-back.

The SQLite backend emits the same OVER(...) SQL we emit here
(jx_sqlite/query_table.py:416-435).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from mysql_to_s3_spark.functions.aggregates import build_window_aggregate
from mysql_to_s3_spark.functions.compiler import Schema, compile_expression
from mysql_to_s3_spark.plans.normalize import WindowClause
from mysql_to_s3_spark.session import conf_int


class WindowError(ValueError):
    pass


# conf key (set to -1 to disable the check, e.g. for trusted small inputs)
GLOBAL_WINDOW_MAX_ROWS_CONF = "mysql_to_s3_spark.window.maxGlobalRows"
GLOBAL_WINDOW_MAX_ROWS_DEFAULT = 10_000_000


def _guard_global_window(df: DataFrame, name: str) -> None:
    """A window with no edges is a single Spark task over ALL rows (the
    reference's global sort semantics). At cluster scale that is a silent
    one-executor bottleneck/OOM, so refuse above a row bound. The check is
    a limit(n+1).count() — an early-exit scan, not a full count — run
    on every build, so the verdict always reflects the frame at hand.
    Streaming frames skip
    the count (it would raise AnalysisException) and are refused outright:
    an edge-less global sort has no streaming execution anyway."""
    limit = conf_int(df.sparkSession, GLOBAL_WINDOW_MAX_ROWS_CONF, GLOBAL_WINDOW_MAX_ROWS_DEFAULT, WindowError)
    if limit < 0:
        return
    if df.isStreaming:
        raise WindowError(
            f"window {name!r} has no edges; a global sort is not executable "
            "on a streaming DataFrame — add `edges` to partition the window"
        )
    if df.limit(limit + 1).count() > limit:
        raise WindowError(
            f"window {name!r} has no edges, forcing a single-task global "
            f"sort over more than {limit} rows; add `edges` to partition "
            f"the window, or raise/disable {GLOBAL_WINDOW_MAX_ROWS_CONF}"
        )


def apply_window(df: DataFrame, w: WindowClause, schema: Schema) -> DataFrame:
    # partition spec
    part_cols: list[Column] = []
    for e in w.edges:
        value = e if isinstance(e, str) else e.get("value", e.get("name"))
        part_cols.append(compile_expression(value, schema).col)

    order_cols: list[Column] = []
    for s in w.sort:
        c = compile_expression(s["value"], schema).col
        order_cols.append(c.asc_nulls_first() if s["sort"] >= 0 else c.desc_nulls_last())

    if part_cols and order_cols:
        spec = Window.partitionBy(*part_cols).orderBy(*order_cols)
    elif part_cols:
        spec = Window.partitionBy(*part_cols).orderBy(F.lit(1))
    else:
        # Edge-less window: reference semantics force ONE global ordering,
        # which Spark executes as a single task holding the whole input.
        # Guard against silently funneling a large table through one
        # executor — bounded row check, conf-overridable for small jobs.
        _guard_global_window(df, w.name)
        if order_cols:
            spec = Window.partitionBy().orderBy(*order_cols)
        else:
            spec = Window.partitionBy().orderBy(F.lit(1))

    value_expr = w.value

    # magic variable: value == "rownum" -> 0-based row index (expressions.py:48-76)
    if value_expr == "rownum" or (w.aggregate is None and value_expr is None):
        col = F.row_number().over(spec) - 1
        return df.withColumn(w.name, col)

    # rows[rownum+n].field relative access -> lead/lag
    if isinstance(value_expr, dict) and "rows" in value_expr:
        field, offset = value_expr["rows"]
        base = compile_expression(field, schema).col
        n = int(offset)
        col = F.lead(base, n).over(spec) if n >= 0 else F.lag(base, -n).over(spec)
        return df.withColumn(w.name, col)

    compiled = compile_expression(value_expr if value_expr is not None else ".", schema)
    val = compiled.col

    if w.where is not None:
        cond = compile_expression(w.where, schema)
        val = F.when(F.coalesce(cond.col.cast("boolean"), F.lit(False)), val)

    if w.aggregate is None:
        # computed column in sorted/partitioned context
        return df.withColumn(w.name, val)

    if w.range is not None:
        lo = w.range.get("min")
        hi = w.range.get("max")
        lo = Window.unboundedPreceding if lo is None else int(lo)
        hi = Window.unboundedFollowing if hi is None else int(hi)
        # JX range is [min, max) over rownum offsets (jx.py:1022-1034):
        # rows from rownum+min to rownum+max-1 inclusive
        spec = spec.rowsBetween(lo, hi - 1 if isinstance(hi, int) and hi != Window.unboundedFollowing else hi)
    elif order_cols:
        spec = spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    else:
        spec = spec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    if w.aggregate == "stats" and w.middle is not None:
        # trimmed stats over a frame: collect the frame's samples with the
        # window, trim+aggregate with post-window Column algebra
        from mysql_to_s3_spark.functions.aggregates import trimmed_stats_of_list

        collected = F.collect_list(val).over(spec)
        return df.withColumn(w.name, trimmed_stats_of_list(collected, w.middle))

    if w.aggregate == "one":
        # assert-single-value over the frame: collect_set is window-legal
        # (count_distinct is not), and post-window algebra checks it. A
        # single-valued frame makes element_at deterministic.
        distinct = F.collect_set(val).over(spec)
        col = F.when(
            F.size(distinct) > 1,
            F.raise_error(F.lit("'one' aggregate: group holds more than one distinct value")),
        ).otherwise(F.element_at(F.when(F.size(distinct) == 1, distinct), 1))
        return df.withColumn(w.name, col)

    agg_col = build_window_aggregate(w.aggregate, val, w.percentile)
    return df.withColumn(w.name, agg_col.over(spec))
