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


def wrap_doc(value: Any, fact_name: str, etl: dict | None = None) -> dict:
    """One output document: the scrubbed fact (``{}`` when nothing is
    left) under ``fact_name``, plus the ``etl`` envelope when given."""
    doc = scrub(value)
    wrapped = {fact_name: doc if doc is not None else {}}
    if etl is not None:
        wrapped["etl"] = etl
    return wrapped


# row bound of collect_docs (mirrors formats.py's bounded-result
# guarantee); write_json_lines is the unbounded/distributed path
COLLECT_DOCS_MAX_ROWS = 100_000


class SinkError(ValueError):
    pass


def collect_docs(df: DataFrame, fact_name: str, etl: dict | None = None) -> list[dict]:
    """Driver-side doc materialization, ordered by the fact id.

    CONTRACT: this is the test/pretty-file path (reference
    extract.py:240-242 parity) and refuses more than
    ``COLLECT_DOCS_MAX_ROWS`` (100k) rows — pointing it at a full table
    is a driver OOM at scale. Production writes go through
    ``write_json_lines``, which streams the identical scrubbed JSON
    through the file committer."""
    if df.limit(COLLECT_DOCS_MAX_ROWS + 1).count() > COLLECT_DOCS_MAX_ROWS:
        raise SinkError(
            f"collect_docs is the bounded driver-side path and the input "
            f"exceeds {COLLECT_DOCS_MAX_ROWS} rows; use write_json_lines "
            "for large extracts"
        )
    return [wrap_doc(r[fact_name], fact_name, etl) for r in df.orderBy("__id__").collect()]


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

    # the envelope as the JSON round-trip leaves it, parsed once here
    # rather than once per document
    etl = json.loads(json.dumps(etl)) if etl is not None else None

    def to_lines(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            lines = [
                json.dumps(wrap_doc(rec[fact_name], fact_name, etl), sort_keys=True, default=str)
                for rec in pdf.to_dict(orient="records")
            ]
            yield pd.DataFrame({"value": lines})

    out = df.mapInPandas(to_lines, T.StructType([T.StructField("value", T.StringType())]))
    writer = out.write.mode(mode)
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.text(path)
