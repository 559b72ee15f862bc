"""Extract orchestrator: incremental, checkpointed fact-table extraction to
JSON batches (reference mysql_to_s3/extract.py:40 Extract).

The reference's thread/queue machinery (extract.py:86-118) dissolves into
Spark's scheduler: the driver loop only decides BATCH BOUNDARIES, and each
batch is one range filter on a declarative document frame -> sink write.

Keyset batches (reference extract.py:156-183): ``Extract.batches`` runs the
counter-chain keying (``batch_key_columns``, one window over the fact
table) ONCE per run and collects, per batch key, the first and last
``(field, *id_columns)`` position and the batch's min id.
``Extract.documents`` builds the document frame of the whole fact ONCE per
run; it carries those positions raw (``doc_frame(positions=...)``).
Once the run knows it has a batch to do, it builds each top-level
dimension frame (``snowflake.dimension_frames``) once and freezes it with
an eager ``localCheckpoint``; the document frame joins those frozen
frames, so a batch plans, scans and broadcasts only small
``Scan ExistingRDD`` dimension leaves, and no batch re-reads a dimension
table. ``run`` releases the frozen blocks when it returns; nothing
outlives the call, and a resume with nothing to do builds none.
``Extract.ids_for_batch`` turns one batch into a literal lexicographic
range filter on the position columns, so a batch reads no window and
builds no join: the separate ``field >= lo AND field <= hi`` conjunct
pushes through the left-outer joins into Parquet/JDBC scans, the id
tiebreak keeps the range exact when equal field values straddle a batch
boundary, and when the field is the children's join key Catalyst infers
the same bound on each child scan. The id columns must be a key
(non-null, unique) for the order to be total.

Checkpoint/resume keeps the reference's [start_point, first_value]
contract (extract.py:94-110,254); ``first_value`` comes from the collected
bounds, so a checkpoint runs no Spark job. The checkpoint file is replaced
atomically.
"""

from __future__ import annotations

import json
import logging
import operator
import os
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_to_s3_spark.sinks.json_sink import etl_envelope, write_json_lines
from mysql_to_s3_spark.sources.snowflake import (
    FactPlan,
    NodePath,
    SnowflakeConfig,
    dimension_frames,
    doc_frame,
    position_column,
)
from mysql_to_s3_spark.streaming.counters import batch_key_columns

log = logging.getLogger(__name__)


class ExtractError(ValueError):
    pass


@dataclass
class ExtractConfig:
    field: str  # increasing extract column (id or timestamp); ties keyed by the id columns
    type: str = "number"  # "number" | "time"
    start: Any = 0
    batch: Any = 100  # int, or [duration, size] counter chain
    destination: str = "extract_output"
    last: str | None = None  # checkpoint file path
    key_format: str = "a.b"  # dot pattern validating batch-key arity
    source_name: str | None = None  # etl lineage source label


def key_string(batch_key: tuple) -> str:
    return ".".join(str(int(k)) for k in batch_key)


def validate_key_format(key_format: str, batch_key: tuple) -> None:
    """key_format 'a.b.c' declares the batch-key arity (s3.py:385
    key_format validation)."""
    want = len(key_format.split("."))
    if len(batch_key) != want:
        raise ExtractError(
            f"batch key {batch_key} does not match key_format {key_format!r} ({want} parts)"
        )


def read_checkpoint(path: str) -> tuple | None:
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            data = json.load(f)
    except ValueError as e:  # JSONDecodeError, UnicodeDecodeError
        raise ExtractError(f"checkpoint {path} is not valid JSON: {e}") from None
    if not (isinstance(data, dict) and isinstance(data.get("start_point"), list) and "first_value" in data):
        raise ExtractError(f"checkpoint {path} is not a {{start_point: [...], first_value}} object: {data!r}")
    return tuple(data["start_point"]), data["first_value"]


def write_checkpoint(path: str, start_point: tuple, first_value: Any) -> None:
    """Write the checkpoint under a temp name in the same directory, then
    rename it over ``path``: a crash mid-write leaves the previous
    checkpoint whole."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump({"start_point": list(start_point), "first_value": first_value}, f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


@dataclass(frozen=True)
class Batch:
    """One keyset batch: its counter-chain key, the first and last
    ``(field, *id_columns)`` position it holds, and its min
    ``id_columns[0]`` (the checkpoint's ``first_value``)."""

    key: tuple
    lo: tuple
    hi: tuple
    first: Any


def _orderable(col: Column, dtype: T.DataType) -> Column:
    """A position value that survives the trip to the driver exactly:
    timestamps travel as epoch microseconds (no Python-timezone
    round trip)."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(col.cast("timestamp"))
    return col


def _literal(value: Any, dtype: T.DataType) -> Column:
    """The literal of a collected ``_orderable`` value in the column's own
    type; constant-folded, so a comparison with it stays pushable."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.timestamp_micros(F.lit(value)).cast(dtype)
    return F.lit(value).cast(dtype)


def _release(frozen: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``ed frame now, not when the
    JVM happens to collect it."""
    frozen._jdf.logicalPlan().rdd().unpersist(False)


def _lexicographic(cols: list[Column], vals: list[Column], strict, last) -> Column:
    """``(c0, c1, ...) op (v0, v1, ...)`` as ``c0 strict v0 OR (c0 = v0 AND
    (c1 strict v1 OR ...))``, the innermost comparison being ``last``."""
    cond = last(cols[-1], vals[-1])
    for c, v in zip(reversed(cols[:-1]), reversed(vals[:-1])):
        cond = strict(c, v) | ((c == v) & cond)
    return cond


class Extract:
    """Batch-incremental extract over a snowflake plan.

    ``tables``: name -> DataFrame (JDBC reads or parquet).
    """

    def __init__(
        self,
        tables: dict[str, DataFrame],
        plan: FactPlan,
        snowflake: SnowflakeConfig,
        extract: ExtractConfig,
    ):
        self.tables = tables
        self.plan = plan
        self.snowflake = snowflake
        self.extract = extract

    def _positions(self) -> list[tuple[str, T.DataType]]:
        """The keyset order, with each column's type: the extract field,
        then the id columns."""
        types = {f.name: f.dataType for f in self.tables[self.plan.table].schema.fields}
        names = [self.extract.field] + [c for c in self.plan.id_columns if c != self.extract.field]
        return [(c, types[c]) for c in names]

    def batches(self) -> list[Batch]:
        """Every batch of the fact table, in key order: one counter-chain
        keying and one aggregation per run."""
        fact = self.tables[self.plan.table]
        keyed = batch_key_columns(
            fact.filter(F.col(self.extract.field) >= F.lit(self.extract.start)),
            self.extract.field,
            self.extract.start,
            self.extract.batch,
            tiebreak_cols=self.plan.id_columns,
        )
        point = F.struct(*[_orderable(F.col(c), t).alias(c) for c, t in self._positions()])
        key_cols = ["__batch0__", "__batch1__"]
        rows = (
            keyed.groupBy(*key_cols)
            .agg(
                F.min(point).alias("lo"),
                F.max(point).alias("hi"),
                F.min(self.plan.id_columns[0]).alias("first"),
            )
            .orderBy(*key_cols)
            .collect()
        )
        return [Batch((r[0], r[1]), tuple(r["lo"]), tuple(r["hi"]), r["first"]) for r in rows]

    def documents(self, dims: dict[NodePath, DataFrame] | None = None) -> DataFrame:
        """The document frame of the whole fact, carrying the raw
        ``(field, *id_columns)`` positions in ``doc_frame``'s position
        columns; ``run`` builds it once, over its frozen ``dims``, and
        writes each batch as an ``ids_for_batch`` filter on it."""
        names = [c for c, _ in self._positions()]
        return doc_frame(self.tables, self.plan, self.snowflake, positions=names, dims=dims)

    def ids_for_batch(self, batch: Batch, docs: DataFrame) -> DataFrame:
        """The rows of ``docs`` (a ``documents`` frame) in ``batch``: a
        literal lexicographic range on the position columns, with the
        field's own range as a separate (pushable) conjunct."""
        positions = self._positions()
        cols = [F.col(position_column(i)) for i in range(len(positions))]
        lo = [_literal(v, t) for (_, t), v in zip(positions, batch.lo)]
        hi = [_literal(v, t) for (_, t), v in zip(positions, batch.hi)]
        cond = (cols[0] >= lo[0]) & (cols[0] <= hi[0])
        if len(cols) > 1:
            cond = (
                cond
                & _lexicographic(cols, lo, operator.gt, operator.ge)
                & _lexicographic(cols, hi, operator.lt, operator.le)
            )
        return docs.filter(cond)

    def run(
        self,
        notify: Callable[[dict], None] | None = None,
        resume: bool = True,
    ) -> list[str]:
        """Extract every batch after the checkpoint; returns written paths.
        ``notify`` is the SQS-analog hook, called per batch with
        {destination, key, timestamp} (extract.py:244-251). The top-level
        dimension frames are built and frozen once, after the batches to
        do are known, and released on return."""
        done_after: tuple | None = None
        if resume and self.extract.last:
            cp = read_checkpoint(self.extract.last)
            if cp:
                done_after = cp[0]

        todo = [b for b in self.batches() if done_after is None or b.key > done_after]
        if not todo:
            return []
        dims: dict[NodePath, DataFrame] = {}
        try:
            for path, frame in dimension_frames(self.tables, self.plan, self.snowflake).items():
                dims[path] = frame.localCheckpoint(eager=True)
            return self._write(todo, self.documents(dims), notify)
        finally:
            for frame in dims.values():
                _release(frame)

    def _write(self, todo: list[Batch], docs: DataFrame, notify) -> list[str]:
        pos_cols = [position_column(i) for i in range(len(self._positions()))]
        written = []
        for batch in todo:
            validate_key_format(self.extract.key_format, batch.key)
            key = key_string(batch.key)
            path = os.path.join(self.extract.destination, key)
            log.info(
                "extract batch %s -> %s",
                key,
                path,
                extra={"batch_key": key, "lo": list(batch.lo), "hi": list(batch.hi), "path": path},
            )
            etl = etl_envelope(
                etl_id=key,
                source={"name": self.extract.source_name or self.plan.table},
            )
            write_json_lines(
                self.ids_for_batch(batch, docs).drop(*pos_cols), path, self.plan.table, etl=etl
            )
            written.append(path)
            if self.extract.last:
                write_checkpoint(self.extract.last, batch.key, batch.first)
            if notify:
                from mysql_to_s3_spark.sinks.notify import notify_payload

                msg = notify_payload(bucket=self.extract.destination, key=key)
                # accept a queue object (FileQueue/CallbackQueue/SQS) or a
                # bare callable
                add = getattr(notify, "add", notify)
                add(msg)
        return written
