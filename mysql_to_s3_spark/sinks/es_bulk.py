"""Elasticsearch `_bulk` wire format
(reference pyLibrary/env/elasticsearch.py).

The reference's `Index.extend` (elasticsearch.py:281-321) posts NDJSON
PAIRS — an action line ``{"index":{"_id": <id>}}`` followed by the
typed-encoded document — to ``<index>/_bulk``. ``write_bulk_lines``
produces that exact body distributed: scrub + typed-encode + action-line
pairing all run inside one Arrow-batched ``mapInPandas`` stage, and each
output part file is one ready-to-POST bulk request body (the file
committer replaces the reference's driver-side ``"\\n".join`` +
requests.post loop; posting is a transport concern left to the caller —
no HTTP client lives in this sandbox).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import DataFrame


def write_bulk_lines(
    df: DataFrame,
    path: str,
    fact_name: str,
    id_col: str = "__id__",
    typed: bool = True,
    gzip: bool = False,
    mode: str = "overwrite",
) -> None:
    """Distributed `_bulk` body: per record, the action line
    ``{"index":{"_id": <id>}}`` then the scrubbed (typed or plain) doc —
    the reference's elasticsearch.py:293-296 pair loop, Arrow-batched.
    Line order within each part file is the pair order (mapInPandas
    preserves intra-partition order through write.text)."""
    from pyspark.sql import types as T

    from mysql_to_s3_spark.sinks.json_sink import scrub
    from mysql_to_s3_spark.sinks.typed_json import typed_encode

    def to_lines(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            lines = []
            for rec in pdf.to_dict(orient="records"):
                doc = scrub(rec[fact_name])
                body = typed_encode(doc) if typed else (doc if doc is not None else {})
                lines.append(json.dumps({"index": {"_id": rec[id_col]}}, sort_keys=True, default=str))
                lines.append(json.dumps(body, sort_keys=True, default=str))
            yield pd.DataFrame({"value": lines})

    out = df.mapInPandas(to_lines, T.StructType([T.StructField("value", T.StringType())]))
    writer = out.write.mode(mode)
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.text(path)
