"""JDBC source: MySQL scan + schema discovery + keyset-pagination analog
(reference mysql_to_s3/snowflake_schema.py:70 _scan_database;
extract.py:120-183 paginated id scan; vendor/pyLibrary/sql/mysql.py:243
streaming cursor).

Spark-native mapping:

  server-side streaming cursor  -> spark.read.jdbc with fetchsize
                                   (constant executor memory per partition)
  keyset-paginated id scan      -> partitionColumn/lowerBound/upperBound/
                                   numPartitions: each executor reads ONE
                                   key range, pushed down as WHERE — the
                                   cluster-parallel form of "WHERE id > ?
                                   ORDER BY id LIMIT n" polling
  explicit id batches           -> `predicates` ranges (one partition per
                                   batch), for resuming mid-table
  information_schema scan       -> ``discover_schema``: DISCOVER_COLUMNS_SQL
                                   and DISCOVER_RELATIONS_SQL as JDBC
                                   queries, turned into the snowflake
                                   TableMeta / Relation lists that
                                   build_plan takes

No MySQL server is needed for the tests: discovery runs on recorded
information_schema rows (tests/test_jdbc.py), while the live read path —
``read_table`` partitioned scans, ``predicates`` batches, and the full
read→build_plan→doc_frame round-trip — runs end-to-end against an
embedded Apache Derby database (shipped with Spark) in
tests/test_jdbc_e2e.py, no mocks.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from mysql_to_s3_spark.sources.snowflake import Relation, TableMeta


class JdbcError(ValueError):
    pass


@dataclass
class JdbcConfig:
    """Connection settings (reference config ``database`` block)."""

    host: str
    schema: str  # database name
    username: str | None = None
    password: str | None = None
    port: int = 3306
    driver: str = "com.mysql.cj.jdbc.Driver"
    fetchsize: int = 10_000  # streaming-cursor analog
    properties: dict[str, str] = dc_field(default_factory=dict)
    # verbatim JDBC URL override: any JDBC-speaking engine (MariaDB,
    # Postgres, embedded Derby in tests) instead of the MySQL URL form
    jdbc_url: str | None = None

    @property
    def url(self) -> str:
        if self.jdbc_url:
            return self.jdbc_url
        return f"jdbc:mysql://{self.host}:{self.port}/{self.schema}"


def jdbc_options(
    cfg: JdbcConfig,
    table_or_query: str,
    partition_column: str | None = None,
    lower_bound: Any = None,
    upper_bound: Any = None,
    num_partitions: int | None = None,
) -> dict[str, str]:
    """spark.read.format('jdbc') option map.

    With a partition column + bounds, Spark generates one pushed-down
    range predicate per partition — the scale form of the reference's
    keyset pagination (no OFFSET scans, monotone key ranges only)."""
    opts = {
        "url": cfg.url,
        "driver": cfg.driver,
        "fetchsize": str(cfg.fetchsize),
    }
    if cfg.username is not None:
        opts["user"] = cfg.username
    if cfg.password is not None:
        opts["password"] = cfg.password
    sql = table_or_query.strip()
    if sql.lower().startswith("select"):
        opts["query"] = sql
    else:
        opts["dbtable"] = sql
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or not num_partitions:
            raise JdbcError("partition_column requires lower_bound, upper_bound, num_partitions")
        if "query" in opts:
            raise JdbcError("partitioned reads need dbtable, not a query")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(int(num_partitions)),
        )
    opts.update(cfg.properties)
    return opts


def id_batch_predicates(id_col: str, start: int, end: int, batch_size: int) -> list[str]:
    """Explicit keyset ranges — one JDBC partition per id batch
    (extract.py:156-183's "get_id_ranges"); lets a resumed extract skip
    completed batches exactly."""
    if batch_size <= 0:
        raise JdbcError("batch_size must be positive")
    return [
        f"{id_col} >= {lo} AND {id_col} < {min(lo + batch_size, end)}"
        for lo in range(int(start), int(end), int(batch_size))
    ]


def read_table(
    spark: SparkSession,
    cfg: JdbcConfig,
    table: str,
    partition_column: str | None = None,
    lower_bound: Any = None,
    upper_bound: Any = None,
    num_partitions: int | None = None,
    predicates: list[str] | None = None,
) -> DataFrame:
    """Live JDBC read. ``predicates`` wins over bounds partitioning."""
    if predicates is not None:
        props = {"driver": cfg.driver, "fetchsize": str(cfg.fetchsize), **cfg.properties}
        if cfg.username is not None:
            props["user"] = cfg.username
        if cfg.password is not None:
            props["password"] = cfg.password
        return spark.read.jdbc(cfg.url, table, predicates=predicates, properties=props)
    opts = jdbc_options(cfg, table, partition_column, lower_bound, upper_bound, num_partitions)
    return spark.read.format("jdbc").options(**opts).load()


# schema scan (snowflake_schema.py:70-108): two information_schema
# queries, read positionally by tables_from_rows / relations_from_rows.
DISCOVER_RELATIONS_SQL = """\
SELECT constraint_name,
       table_name,
       column_name,
       referenced_table_name,
       referenced_column_name,
       ordinal_position
FROM information_schema.key_column_usage
WHERE table_schema = '{schema}'
  AND referenced_column_name IS NOT NULL
ORDER BY constraint_name, ordinal_position"""

DISCOVER_COLUMNS_SQL = """\
SELECT table_name, column_name, ordinal_position, column_key
FROM information_schema.columns
WHERE table_schema = '{schema}'
ORDER BY table_name, ordinal_position"""


def discover_relations_sql(cfg: JdbcConfig) -> str:
    return DISCOVER_RELATIONS_SQL.format(schema=cfg.schema)


def tables_from_rows(rows: list[tuple]) -> list[TableMeta]:
    """(table, column, ordinal, column_key) rows -> TableMeta list in
    the ORDER BY of DISCOVER_COLUMNS_SQL; ``column_key = 'PRI'`` columns
    become the table's id columns."""
    tables: dict[str, TableMeta] = {}
    for table, column, _pos, column_key in rows:
        t = tables.setdefault(table, TableMeta(table, [], []))
        t.columns.append(column)
        if column_key == "PRI":
            t.id_columns.append(column)
    return list(tables.values())


def relations_from_rows(rows: list[tuple]) -> list[Relation]:
    """(constraint, table, column, ref_table, ref_column, ordinal) rows ->
    Relation list named ``table.constraint`` (constraint names are only
    unique per table on some engines, and the name is build_plan's BFS
    key); composite FKs merge in ordinal order (the ORDER BY in
    DISCOVER_RELATIONS_SQL)."""
    by_name: dict[str, Relation] = {}
    for constraint, table, column, ref_table, ref_column, _pos in rows:
        name = f"{table}.{constraint}"
        rel = by_name.get(name)
        if rel is None:
            by_name[name] = Relation(name, table, [column], ref_table, [ref_column])
        else:
            if rel.referenced_table != ref_table:
                raise JdbcError(f"constraint {constraint!r} references two tables")
            rel.columns.append(column)
            rel.referenced_columns.append(ref_column)
    return list(by_name.values())


def discover_schema(spark: SparkSession, cfg: JdbcConfig) -> tuple[list[TableMeta], list[Relation]]:
    """Live information_schema scan over JDBC (reference
    snowflake_schema.py:70-211 _scan_database): the ``(tables,
    relations)`` pair ``snowflake.build_plan`` takes."""

    def rows(sql: str) -> list[tuple]:
        return [tuple(r) for r in read_table(spark, cfg, f"({sql}) AS t").collect()]

    return (
        tables_from_rows(rows(DISCOVER_COLUMNS_SQL.format(schema=cfg.schema))),
        relations_from_rows(rows(discover_relations_sql(cfg))),
    )
