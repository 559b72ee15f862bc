"""Snowflake denormalizer: FK-graph discovery + BFS walk -> join-DAG ->
one nested DataFrame (the product's namesake, reference mysql_to_s3/
snowflake_schema.py).

Pipeline:

  1. metadata: table/column/relation records — from ``information_schema``
     over JDBC (``jdbc.discover_schema``) or given directly (tests / any
     catalog).
  2. ``build_plan``: the reference's ``follow_paths`` BFS
     (snowflake_schema.py:288-513) re-expressed as pure driver-side
     planning: many-to-one relations become inner-object DimNodes,
     one-to-many become nested-array ChildNodes; ``exclude``,
     ``reference_only`` (bare table = no nested docs below it; ``t.col`` =
     stop and optionally inline the named column), ``show_foreign_keys``
     and the column-inclusion rules (snowflake_schema.py:213-247) decide
     which columns appear where.
  3. ``doc_frame``: the join DAG as declarative DataFrame ops — dims are
     broadcast left joins producing struct columns
     (snowflake_schema.py:544-552), children are
     sort_array(collect_list(struct(...))) grouped on the FK and joined
     back (snowflake_schema.py:535-543) — Spark's shuffle replaces the
     reference's ordered UNION-ALL + construct_docs merge pass entirely.

Scale notes: dimension tables broadcast (they are small by definition of
the snowflake shape, and do not change with an extract batch). A
top-level dimension frame — one hung directly off the fact or off a
child node, its own sub-dimensions joined in — is built by
``dimension_frames``, and ``doc_frame(dims=...)`` joins frames the
caller built: an extract builds each one once per run and freezes it,
and each batch broadcasts only that frozen frame. The child aggregation
shuffles on the parent key once per nesting level. Skew from a fact row
with millions of children is bounded by the CHILD CAP
(``SnowflakeConfig.child_cap``): a per-parent ``row_number() <= cap``
BEFORE the collect_list bounds the aggregation buffer, and the
dropped-row count lands in a sibling ``<field>__overflow__`` column —
see ``_prepare_child``. Unset = the reference's unbounded contract.

Internal column names (join keys, values, overflow counts, salts) are
derived from the node's position in the ``FactPlan`` tree — the fact is
``()``, its ``i``-th dim ``(i,)``, its ``j``-th child ``(len(dims) + j,)``
and so on down — so ``doc_frame`` is a pure function of its inputs and a
pre-built dimension frame carries the names of its join site.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SnowflakeError(ValueError):
    pass


@dataclass
class Relation:
    """FK constraint: table.columns -> referenced_table.referenced_columns."""

    name: str
    table: str
    columns: list[str]
    referenced_table: str
    referenced_columns: list[str]


@dataclass
class TableMeta:
    name: str
    columns: list[str]
    id_columns: list[str]


@dataclass
class SnowflakeConfig:
    fact_table: str
    show_foreign_keys: bool = True
    reference_only: list[str] = dc_field(default_factory=list)
    exclude: list[str] = dc_field(default_factory=list)
    include: list[str] = dc_field(default_factory=list)
    null_values: list[str] = dc_field(default_factory=list)
    add_relations: list[str] = dc_field(default_factory=list)  # "t.col -> r.col"
    # max children collected per parent per nesting level (the 100 TB skew
    # valve, SURVEY §7): a parent with more children keeps the FIRST cap in
    # sort_columns order and gains a sibling `<field>__overflow__` count of
    # the dropped rows. None = unbounded (the reference contract,
    # snowflake_schema.py:535-543).
    child_cap: int | None = None
    # salted two-phase child collect (SURVEY §7 "cap + salt"): with
    # n > 1, children are first collected per (fk, salt in 0..n-1) — n
    # parallel tasks per hot parent — then the n pre-sorted sub-arrays
    # merge in a second, tiny (n rows per parent) aggregation. Below the
    # cap this preserves every child byte-for-byte vs the unsalted path;
    # the cap stays the final valve. None or <= 1 = the single-phase
    # collect.
    child_salt: int | None = None


@dataclass
class DimNode:
    """Many-to-one inner object, keyed by the FK columns in the parent."""

    field: str
    table: str
    fk_columns: list[str]  # in parent
    ref_columns: list[str]  # in this table
    out_columns: list[tuple[str, str]]  # (column, output name)
    inline_column: str | None  # reference column REPLACES the object
    dims: list["DimNode"] = dc_field(default_factory=list)


@dataclass
class ChildNode:
    """One-to-many nested array, keyed by the FK columns in the child."""

    field: str
    table: str
    fk_columns: list[str]  # in child
    parent_columns: list[str]  # in parent
    sort_columns: list[str]  # child ordering (its id columns)
    out_columns: list[tuple[str, str]]
    dims: list[DimNode] = dc_field(default_factory=list)
    children: list["ChildNode"] = dc_field(default_factory=list)


@dataclass
class FactPlan:
    table: str
    id_columns: list[str]
    out_columns: list[tuple[str, str]]
    dims: list[DimNode] = dc_field(default_factory=list)
    children: list[ChildNode] = dc_field(default_factory=list)


# ---------------------------------------------------------------------------
# metadata acquisition


def parse_add_relations(specs: list[str]) -> list[Relation]:
    """User-declared relations: "child.fk -> parent.key"."""
    out = []
    for i, s in enumerate(specs):
        sides = [x.strip().rsplit(".", 1) for x in s.split("->")]
        if len(sides) != 2 or any(len(p) != 2 or not all(p) for p in sides):
            raise SnowflakeError(
                f"add_relations entry {s!r} is not of the form 'table.col -> table.col'"
            )
        (t, c), (rt, rc) = sides
        out.append(Relation(f"__added_{i}__", t, [c], rt, [rc]))
    return out


# ---------------------------------------------------------------------------
# plan construction (follow_paths BFS)


def _dim_field_name(fk_columns: list[str], ref_table: str) -> str:
    """Inner-object key: FK col 'about' -> 'about'; 'owner_id' -> 'owner';
    'inner1_x' with ref table 'inner1' -> 'inner1'
    (snowflake_schema.py:330-340)."""
    names = []
    for a in fk_columns:
        if a.startswith(ref_table):
            names.append(ref_table)
        elif a.endswith("_id"):
            names.append(a[:-3])
        else:
            names.append(a)
    return "_".join(names)


class _Classifier:
    """Column-inclusion flags (snowflake_schema.py:213-247)."""

    def __init__(self, tables: dict[str, TableMeta], relations: list[Relation], cfg: SnowflakeConfig):
        self.tables = tables
        self.cfg = cfg
        self.ref_only = {r.split(".")[0] for r in cfg.reference_only if "." in r}
        self.ref_all = {r for r in cfg.reference_only if "." not in r}
        self.ref_cols = {tuple(r.split(".")) for r in cfg.reference_only if "." in r}
        self.foreign = {(c, r.table) for r in relations for c in r.columns}
        self.referenced = {(c, r.referenced_table) for r in relations for c in r.referenced_columns}

    def flags(self, table: str, col: str) -> tuple[bool, bool, bool]:
        """-> (include, reference, foreign)"""
        cfg = self.cfg
        is_id = col in self.tables[table].id_columns
        if table in self.ref_only:
            if (table, col) in self.ref_cols:
                return True, True, False
            if is_id:
                return cfg.show_foreign_keys, False, False
            return False, False, False
        if table in self.ref_all:
            if is_id:
                return cfg.show_foreign_keys, True, False
            if (col, table) in self.foreign:
                return False, False, True
            return True, False, False
        if is_id:
            return cfg.show_foreign_keys, False, False
        if (col, table) in self.foreign:
            return False, False, True
        if (col, table) in self.referenced:
            return cfg.show_foreign_keys, False, False
        return True, False, False


def build_plan(
    tables: list[TableMeta], relations: list[Relation], cfg: SnowflakeConfig
) -> FactPlan:
    tmap = {t.name: t for t in tables}
    if cfg.fact_table not in tmap:
        raise SnowflakeError(f"unknown fact table {cfg.fact_table!r}")
    added = parse_add_relations(cfg.add_relations)
    for spec, rel in zip(cfg.add_relations, added):
        for t in (rel.table, rel.referenced_table):
            if t not in tmap:
                raise SnowflakeError(f"add_relations entry {spec!r} names unknown table {t!r}")
    for name in ("child_cap", "child_salt"):
        v = getattr(cfg, name)
        if v is not None and (not isinstance(v, int) or v < 0):
            raise SnowflakeError(
                f"SnowflakeConfig.{name} must be a non-negative integer or None, got {v!r}"
            )
    relations = list(relations) + added
    cls = _Classifier(tmap, relations, cfg)
    exclude = set(cfg.exclude)

    def dim_columns(table: str, fk_name: str) -> tuple[list[tuple[str, str]], str | None]:
        """Columns of a referenced (dim) table + optional inline column
        (inner-objects loop, snowflake_schema.py:343-404)."""
        out: list[tuple[str, str]] = []
        inline = None
        for col in tmap[table].columns:
            include, reference, _foreign = cls.flags(table, col)
            is_id = col in tmap[table].id_columns
            if is_id and table == cfg.fact_table:
                out.append((col, col))  # ALWAYS SHOW THE ID OF THE FACT
            elif col == fk_name or is_id:
                if cfg.show_foreign_keys:
                    out.append((col, col))
            elif reference:
                if cfg.show_foreign_keys:
                    out.append((col, col))
                else:
                    inline = col  # reference col REPLACES the whole object
            elif include:
                out.append((col, col))
        return out, inline

    def child_columns(table: str, fk_name: str) -> list[tuple[str, str]]:
        """Columns of a one-to-many child (nested-objects loop,
        snowflake_schema.py:449-486)."""
        out = []
        for col in tmap[table].columns:
            include, _reference, _foreign = cls.flags(table, col)
            is_id = col in tmap[table].id_columns
            if col == fk_name or is_id:
                if cfg.show_foreign_keys:
                    out.append((col, col))
            elif include:
                out.append((col, col))
        return out

    def expand_dims(table: str, done: set[str], no_nested: bool) -> list[DimNode]:
        dims = []
        for rel in relations:
            if rel.table != table or rel.name in done or rel.referenced_table in exclude:
                continue
            done.add(rel.name)
            ref = rel.referenced_table
            out_cols, inline = dim_columns(ref, rel.columns[0])
            node = DimNode(
                field=_dim_field_name(rel.columns, ref),
                table=ref,
                fk_columns=list(rel.columns),
                ref_columns=list(rel.referenced_columns),
                out_columns=out_cols,
                inline_column=inline,
            )
            if ref not in cls.ref_only:  # `t.col` form: stop here
                node.dims = expand_dims(ref, set(done), no_nested or ref in cls.ref_all)
            dims.append(node)
        return dims

    def expand_children(table: str, done: set[str], no_nested: bool) -> list[ChildNode]:
        if no_nested:
            return []
        children = []
        for rel in relations:
            if rel.referenced_table != table or rel.name in done or rel.table in exclude:
                continue
            if rel.table in cls.ref_only or rel.table in cls.ref_all:
                continue
            done.add(rel.name)
            child = rel.table
            branch_done = set(done)
            node = ChildNode(
                field=child,
                table=child,
                fk_columns=list(rel.columns),
                parent_columns=list(rel.referenced_columns),
                sort_columns=list(tmap[child].id_columns),
                out_columns=child_columns(child, rel.columns[0]),
                dims=expand_dims(child, branch_done, no_nested),
            )
            node.children = expand_children(child, branch_done, no_nested)
            children.append(node)
        return children

    fact = cfg.fact_table
    fact_out, _ = dim_columns(fact, tmap[fact].id_columns[0] if tmap[fact].id_columns else "")
    done: set[str] = set()
    plan = FactPlan(
        table=fact,
        id_columns=list(tmap[fact].id_columns),
        out_columns=fact_out,
        dims=expand_dims(fact, done, fact in cls.ref_all),
        children=expand_children(fact, done, False),
    )
    return plan


# ---------------------------------------------------------------------------
# join-DAG -> nested DataFrame


NodePath = tuple[int, ...]


def _tag(path: NodePath) -> str:
    return "_".join(map(str, path))


def _key_names(path: NodePath, n: int) -> list[str]:
    return [f"__k{_tag(path)}_{i}__" for i in range(n)]


def _value_name(path: NodePath) -> str:
    return f"__v{_tag(path)}__"


def position_column(i: int) -> str:
    """The reserved top-level column in which ``doc_frame(positions=...)``
    carries its ``i``-th position column."""
    return f"__pos{i}__"


def _normalize_table(df: DataFrame, cfg: SnowflakeConfig, raw: Sequence[str] = ()) -> DataFrame:
    """Sentinel null mapping (extract.py:266 null_values) + dates -> unix
    seconds (mo_times convention: dates are numbers at the JX boundary).
    Each ``raw`` column is also carried unnormalized as its
    ``position_column``, so a filter on it keeps the column's own type."""
    out = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.StringType) and cfg.null_values:
            c = F.when(c.isin(cfg.null_values), F.lit(None)).otherwise(c)
        elif isinstance(f.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            c = c.cast("timestamp").cast("double")
        out.append(c.alias(f.name))
    out += [F.col(c).alias(position_column(i)) for i, c in enumerate(raw)]
    return df.select(*out)


def _prepare_dim(tables: dict[str, DataFrame], d: DimNode, path: NodePath) -> DataFrame:
    """The dim at ``path`` as a frame of its ref columns renamed to
    ``_key_names(path, ...)`` and its struct (or inline scalar) as
    ``_value_name(path)``; its own sub-dims are joined in."""
    df, fields = _element_fields(tables, d, path)
    if d.inline_column is not None:
        value = F.col(d.inline_column)
    else:
        # all-missing struct -> NULL so scrub can drop the empty object
        struct = F.struct(*[c.alias(n) for n, c in fields])
        any_set = None
        for _, c in fields:
            e = c.isNotNull()
            any_set = e if any_set is None else any_set | e
        value = F.when(any_set if any_set is not None else F.lit(False), struct)
    keys = _key_names(path, len(d.ref_columns))
    return df.select(
        *[F.col(rc).alias(k) for rc, k in zip(d.ref_columns, keys)], value.alias(_value_name(path))
    )


def _element_fields(
    tables: dict[str, DataFrame],
    node,
    path: NodePath,
    cfg: SnowflakeConfig | None = None,
    dims: Mapping[NodePath, DataFrame] | None = None,
) -> tuple[DataFrame, list[tuple[str, any]]]:
    """Shared dim/child field assembly for the rows of the node at
    ``path``. ``cfg`` carries the child valves; ``dims`` holds the
    node's top-level dimension frames by path (a fact or child node
    passes them; a dim builds its own sub-dims and has no children)."""
    df = tables[node.table]
    fields: list[tuple[str, any]] = [(out, F.col(c)) for c, out in node.out_columns]
    for i, sub in enumerate(node.dims):
        sub_path = path + (i,)
        sub_df = dims[sub_path] if dims is not None else _prepare_dim(tables, sub, sub_path)
        sub_keys, sub_v = _key_names(sub_path, len(sub.ref_columns)), _value_name(sub_path)
        cond = None
        for fk, k in zip(sub.fk_columns, sub_keys):
            c = df[fk] == sub_df[k]
            cond = c if cond is None else cond & c
        df = df.join(F.broadcast(sub_df), cond, "left").drop(*sub_keys)
        fields.append((sub.field, F.col(sub_v)))
    for j, sub in enumerate(getattr(node, "children", []) or []):
        sub_df, sub_keys, sub_v, sub_ov = _prepare_child(
            tables, sub, path + (len(node.dims) + j,), cfg, dims
        )
        cond = None
        for pc, k in zip(sub.parent_columns, sub_keys):
            c = df[pc] == sub_df[k]
            cond = c if cond is None else cond & c
        df = df.join(sub_df, cond, "left").drop(*sub_keys)
        fields.append((sub.field, F.col(sub_v)))
        if sub_ov is not None:
            # dropped-children count per parent (NULL for parents with no
            # children at all — the array field is NULL there too)
            fields.append((f"{sub.field}__overflow__", F.col(sub_ov)))
    return df, fields


def _prepare_child(
    tables: dict[str, DataFrame],
    ch: ChildNode,
    path: NodePath,
    cfg: SnowflakeConfig,
    dims: Mapping[NodePath, DataFrame],
) -> tuple[DataFrame, list[str], str, str | None]:
    """-> (frame keyed by renamed FK columns, key names, array column name,
    overflow column name | None).

    Children are ordered by their id columns via sort_array over a
    (sort-key, payload) struct (snowflake_schema.py:535-543 ordering);
    the payloads are read back as the sorted array's ``__p__`` field.

    Skew valve (SURVEY §7): with a child cap configured, a per-parent
    row_number() ≤ cap runs BEFORE the collect_list, so the aggregation
    buffer holds at most cap elements — AQE skew-join splitting cannot
    split a single group's collect_list, and an uncapped million-child
    parent materializes one unbounded array in one buffer. The window
    sorts within each parent key using Spark's spillable row buffer
    (disk-backed), converting the OOM into a spill; the window and the
    groupBy share one hash partitioning on the FK, so the cap costs a
    sort, not a second shuffle. Dropped rows are counted into the
    overflow column (reference contract extension; the reference itself
    is unbounded, snowflake_schema.py:535-543).

    Salt valve (SURVEY §7 "cap + salt"; r8): the cap alone is LOSSY on a
    hot parent — everything past it truncates — and below the cap all of
    a hot parent's children still funnel through one task's window sort
    + one aggregation buffer. With ``child_salt = n`` > 1, the collect
    runs in TWO phases: phase 1 groups by (fk, xxhash64(sort_columns) %
    n) — a hot parent's children spread over n tasks, each producing one
    pre-sorted sub-array (and, capped, each keeping only its own
    top-cap: the global top-cap is a subset of the per-salt top-caps, so
    nothing the final slice needs is dropped) — and phase 2 re-groups by
    fk alone over n ROWS per parent, merging with flatten + one array
    sort (+ slice(cap) and the summed overflow count when capped). Same
    results as the single-phase path element-for-element when sort keys
    are unique (ties: both paths pick arbitrarily, like any engine's
    LIMIT under ties); the extra phase-2 shuffle moves n_parents × n
    rows of pre-serialized arrays, not child rows."""
    df, fields = _element_fields(tables, ch, path, cfg, dims)
    cap = cfg.child_cap
    n_salts = cfg.child_salt if (cfg.child_salt or 0) > 1 else None
    elem = F.struct(*[c.alias(n) for n, c in fields])
    sort_struct = F.struct(
        *[F.col(s).alias(f"__s{i}__") for i, s in enumerate(ch.sort_columns)],
        elem.alias("__p__"),
    )
    keys = _key_names(path, len(ch.fk_columns))
    vname = _value_name(path)
    if n_salts is not None:
        return _prepare_child_salted(
            df, ch, cap, n_salts, sort_struct, keys, vname, _tag(path)
        )
    if cap is None:
        grouped = (
            df.groupBy(*[F.col(c).alias(k) for c, k in zip(ch.fk_columns, keys)])
            .agg(F.sort_array(F.collect_list(sort_struct)).alias("__raw__"))
            .select(*keys, F.col("__raw__").getField("__p__").alias(vname))
        )
        return grouped, keys, vname, None
    from pyspark.sql import Window

    oname = f"__ov{_tag(path)}__"
    w_order = Window.partitionBy(*ch.fk_columns).orderBy(
        *[F.col(s) for s in ch.sort_columns]
    )
    w_all = Window.partitionBy(*ch.fk_columns)
    capped = (
        df.withColumn("__rn__", F.row_number().over(w_order))
        .withColumn("__nc__", F.count(F.lit(1)).over(w_all))
        .filter(F.col("__rn__") <= F.lit(cap))
    )
    grouped = (
        capped.groupBy(*[F.col(c).alias(k) for c, k in zip(ch.fk_columns, keys)])
        .agg(
            F.sort_array(F.collect_list(sort_struct)).alias("__raw__"),
            F.greatest(F.max("__nc__") - F.lit(cap), F.lit(0)).cast("long").alias(oname),
        )
        .select(
            *keys,
            F.col("__raw__").getField("__p__").alias(vname),
            oname,
        )
    )
    return grouped, keys, vname, oname


def _prepare_child_salted(
    df: DataFrame,
    ch: ChildNode,
    cap: int | None,
    n_salts: int,
    sort_struct,
    keys: list[str],
    vname: str,
    tag: str,
) -> tuple[DataFrame, list[str], str, str | None]:
    """Two-phase (salted) child collect — see ``_prepare_child``. Phase 1
    parallelizes a hot parent over ``n_salts`` tasks; phase 2 merges the
    pre-sorted sub-arrays (n_salts rows per parent)."""
    sname = f"__salt{tag}__"
    salted = df.withColumn(
        sname,
        F.pmod(F.xxhash64(*[F.col(s) for s in ch.sort_columns]), F.lit(n_salts)),
    )
    key_aliases = [F.col(c).alias(k) for c, k in zip(ch.fk_columns, keys)]
    if cap is None:
        partial = salted.groupBy(*key_aliases, F.col(sname)).agg(
            F.sort_array(F.collect_list(sort_struct)).alias("__sub__")
        )
        grouped = (
            partial.groupBy(*keys)
            .agg(F.sort_array(F.flatten(F.collect_list("__sub__"))).alias("__raw__"))
            .select(
                *keys,
                F.col("__raw__").getField("__p__").alias(vname),
            )
        )
        return grouped, keys, vname, None
    from pyspark.sql import Window

    oname = f"__ov{tag}__"
    # per-(fk, salt) top-cap: the merged top-cap can only contain rows
    # that are top-cap within their own salt group, so pre-capping here
    # bounds every phase-1 buffer at cap without losing final elements
    w_order = Window.partitionBy(*ch.fk_columns, sname).orderBy(
        *[F.col(s) for s in ch.sort_columns]
    )
    w_all = Window.partitionBy(*ch.fk_columns, sname)
    capped = (
        salted.withColumn("__rn__", F.row_number().over(w_order))
        .withColumn("__nc__", F.count(F.lit(1)).over(w_all))
        .filter(F.col("__rn__") <= F.lit(cap))
    )
    partial = capped.groupBy(*key_aliases, F.col(sname)).agg(
        F.sort_array(F.collect_list(sort_struct)).alias("__sub__"),
        F.max("__nc__").alias("__cnt__"),
    )
    grouped = (
        partial.groupBy(*keys)
        .agg(
            F.sort_array(F.flatten(F.collect_list("__sub__"))).alias("__m__"),
            F.sum("__cnt__").alias("__tot__"),
        )
        .select(
            *keys,
            F.slice(F.col("__m__"), 1, cap).getField("__p__").alias(vname),
            F.greatest(F.col("__tot__") - F.lit(cap), F.lit(0))
            .cast("long")
            .alias(oname),
        )
    )
    return grouped, keys, vname, oname


def _normalize_tables(
    tables: dict[str, DataFrame], plan: FactPlan, cfg: SnowflakeConfig, positions: Sequence[str] = ()
) -> dict[str, DataFrame]:
    return {
        name: _normalize_table(df, cfg, positions if name == plan.table else ())
        for name, df in tables.items()
    }


def _top_level_dims(norm: dict[str, DataFrame], node, path: NodePath) -> dict[NodePath, DataFrame]:
    """The dims hung directly off ``node`` and off each child below it,
    built from the normalized tables, by path."""
    out = {path + (i,): _prepare_dim(norm, d, path + (i,)) for i, d in enumerate(node.dims)}
    for j, ch in enumerate(node.children):
        out.update(_top_level_dims(norm, ch, path + (len(node.dims) + j,)))
    return out


def dimension_frames(
    tables: dict[str, DataFrame], plan: FactPlan, cfg: SnowflakeConfig
) -> dict[NodePath, DataFrame]:
    """Every top-level dimension frame of ``plan`` — a dim hung directly
    off the fact or off a child node, its own sub-dims joined in — by
    its path in the plan tree: the ``dims`` a caller hands ``doc_frame``
    when it builds them once and reuses them (``Extract.run`` freezes
    them for the whole run)."""
    return _top_level_dims(_normalize_tables(tables, plan, cfg), plan, ())


def doc_frame(
    tables: dict[str, DataFrame],
    plan: FactPlan,
    cfg: SnowflakeConfig,
    ids: list | None = None,
    positions: Sequence[str] = (),
    dims: Mapping[NodePath, DataFrame] | None = None,
) -> DataFrame:
    """One row per fact row: (__id__, <fact_table> struct) with dims inner
    and children nested arrays. ``ids`` (small list -> pushed-down isin)
    selects those fact rows. Each fact column named in ``positions`` is
    also carried raw as the top-level ``position_column(i)``: a keyset
    extract builds this frame once and selects each batch with a range
    filter on those columns, which Catalyst pushes through the joins to
    the fact scan (``Extract.ids_for_batch``). ``dims`` are
    ``dimension_frames`` of the same tables and plan, built by the
    caller; by default they are built here."""
    norm = _normalize_tables(tables, plan, cfg, positions)
    id_col = plan.id_columns[0]
    if ids is not None:
        norm[plan.table] = norm[plan.table].filter(F.col(id_col).isin(list(ids)))
    if dims is None:
        dims = _top_level_dims(norm, plan, ())
    df, fields = _element_fields(norm, plan, (), cfg, dims)
    return df.select(
        F.col(id_col).alias("__id__"),
        F.struct(*[c.alias(n) for n, c in fields]).alias(plan.table),
        *[position_column(i) for i in range(len(positions))],
    )
