"""JSON-lines sink with the reference's document shaping: scrub (drop
nulls/empty strings/empty containers, pyLibrary/env/elasticsearch.py:939-986),
single-element array collapse (construct_docs assigns a scalar first and
only promotes to a list on the second child, mysql_to_s3/extract.py:257-319),
and the etl lineage envelope (extract.py:208-229).

Two paths share one scrub implementation:

  - ``collect_docs``: driver-side for tests / small batches.
  - ``write_json_lines``: distributed — mapInPandas builds the exact same
    scrubbed JSON strings per Arrow batch, then ``df.write.text`` streams
    them out (optionally gzip). S3 works via the s3a:// scheme + Hadoop
    conf; no driver bottleneck, retries are the file committer's job.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, Row

from mysql_to_s3_spark.session import conf_int


def scrub(value: Any) -> Any:
    """Drop null, empty string, empty dict/list; collapse 1-element lists
    to their element (reference single-child nesting behavior)."""
    if value is None:
        return None
    if type(value).__module__ == "numpy":  # Arrow/pandas interop
        import numpy as np

        if isinstance(value, np.ndarray):
            return scrub(list(value))
        value = value.item()
    if isinstance(value, float) and value != value:  # NaN = pandas null
        return None
    if isinstance(value, str) and value == "":
        return None
    if isinstance(value, Row):
        return scrub(value.asDict(recursive=False))
    if isinstance(value, dict):
        out = {}
        for k, v in value.items():
            sv = scrub(v)
            if sv is not None:
                out[k] = sv
        return out or None
    if isinstance(value, (list, tuple)):
        items = [sv for v in value if (sv := scrub(v)) is not None]
        if not items:
            return None
        if len(items) == 1:
            return items[0]
        return items
    if isinstance(value, float) and value.is_integer():
        # mo_json emits minimal numbers (4.0 -> 4); keep ints exact
        return int(value)
    return value


def etl_envelope(etl_id: Any, source: dict | None = None, timestamp: float | None = None) -> dict:
    """Lineage envelope per doc batch (extract.py:208-229)."""
    return {
        "id": etl_id,
        "source": source or {},
        "timestamp": timestamp,
    }


def docs_from_rows(rows: list[Row], fact_name: str, etl: dict | None = None) -> list[dict]:
    out = []
    for r in rows:
        doc = scrub(r[fact_name])
        wrapped = {fact_name: doc} if doc is not None else {fact_name: {}}
        if etl is not None:
            wrapped["etl"] = etl
        out.append(wrapped)
    return out


# conf key bounding collect_docs (mirrors formats.py's bounded-result
# guarantee); write_json_lines is the unbounded/distributed path
COLLECT_DOCS_MAX_ROWS_CONF = "mysql_to_s3_spark.sink.collectDocsMaxRows"
COLLECT_DOCS_MAX_ROWS_DEFAULT = 100_000


class SinkError(ValueError):
    pass


def collect_docs(df: DataFrame, fact_name: str, etl: dict | None = None) -> list[dict]:
    """Driver-side doc materialization, ordered by the fact id.

    CONTRACT: this is the test/pretty-file path (reference
    extract.py:240-242 parity) and refuses more than
    ``mysql_to_s3_spark.sink.collectDocsMaxRows`` rows (default 100k;
    set -1 to disable) — pointing it at a full table is a driver OOM at
    scale. Production writes go through ``write_json_lines``, which
    streams the identical scrubbed JSON through the file committer."""
    limit = conf_int(df.sparkSession, COLLECT_DOCS_MAX_ROWS_CONF, COLLECT_DOCS_MAX_ROWS_DEFAULT, SinkError)
    if limit >= 0 and df.limit(limit + 1).count() > limit:
        raise SinkError(
            f"collect_docs is the bounded driver-side path and the input "
            f"exceeds {limit} rows; use write_json_lines for large "
            f"extracts, or raise/disable {COLLECT_DOCS_MAX_ROWS_CONF}"
        )
    rows = df.orderBy("__id__").collect()
    return docs_from_rows(rows, fact_name, etl)


def write_json_lines(
    df: DataFrame,
    path: str,
    fact_name: str,
    etl: dict | None = None,
    gzip: bool = False,
    mode: str = "overwrite",
) -> None:
    """Distributed JSON-lines write: scrub runs inside mapInPandas (Arrow
    batches, same code path as collect_docs), output streamed by the file
    committer. Use an s3a:// path for S3."""
    from pyspark.sql import types as T

    etl_json = json.dumps(etl) if etl is not None else None

    def to_lines(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            lines = []
            for rec in pdf.to_dict(orient="records"):
                doc = scrub(rec[fact_name])
                wrapped = {fact_name: doc if doc is not None else {}}
                if etl_json is not None:
                    wrapped["etl"] = json.loads(etl_json)
                lines.append(json.dumps(wrapped, sort_keys=True, default=str))
            yield pd.DataFrame({"value": lines})

    out = df.mapInPandas(to_lines, T.StructType([T.StructField("value", T.StringType())]))
    writer = out.write.mode(mode)
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.text(path)
