"""Seeded inputs for the benchmark.

The tables and documents are the project's sf0.1, sf0.01 and sf0.001 test
data, copied byte for byte into ``perfbench/data/sf<N>/``. The seed picks what
each workload asks of them: the JX query stream, the extract window and
resume checkpoint, and the corpus sample with its bench subset. The
program only ever sees these inputs.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents")
# the decontamination bench is the doc_id % 7 == 0, doc_id < 3500 subset,
# the rule the pipeline_prepare oracle encodes
BENCH_MOD, BENCH_MAX = 7, 3500


def data_dir(sf: float) -> str:
    """The directory of the test tables at scale factor ``sf``."""
    d = os.path.join(DATA, f"sf{sf:g}")
    if not os.path.isdir(d):
        have = sorted(os.listdir(DATA)) if os.path.isdir(DATA) else []
        raise SystemExit(f"perfbench: no test data for sf {sf:g} in {DATA}; have {have}")
    return d


def table_paths(src: str) -> dict[str, str]:
    paths = {t: os.path.join(src, f"{t}.parquet") for t in TABLES}
    return {t: p for t, p in paths.items() if os.path.isfile(p)}


@dataclass(frozen=True)
class Stats:
    """What the query templates draw their constants from."""

    rows: dict[str, int]
    day0: dt.datetime  # first order date
    order_days: int  # order dates span [day0, day0 + order_days)
    segments: tuple[str, ...]

    @property
    def orders(self) -> int:
        return self.rows["orders"]

    @property
    def customers(self) -> int:
        return self.rows["customer"]

    @classmethod
    def of(cls, src: str) -> "Stats":
        paths = table_paths(src)
        dates = pq.read_table(paths["orders"], columns=["o_orderdate"]).column(0)
        lo, hi = pc.min_max(dates).values()
        segs = pq.read_table(paths["customer"], columns=["c_mktsegment"]).column(0)
        return cls(
            rows={t: pq.read_metadata(p).num_rows for t, p in paths.items()},
            day0=lo.as_py(),
            order_days=(hi.as_py() - lo.as_py()).days + 1,
            segments=tuple(sorted(pc.unique(segs).to_pylist())),
        )


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts the values of another."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def write_corpus_sample(src: str, out_dir: str, seed: int, n_docs: int) -> str:
    """Write a seeded sample of ``n_docs`` test documents as
    ``out_dir/documents.parquet``: a window of consecutive documents in
    text order. Near copies and the training docs that quote a bench doc
    share most of their text, so in the sf0.1 corpus nearly all of them
    sit next to their partner in text order; a window keeps them in the
    sample at the whole corpus's rate, where a uniform sample would
    split them up. Doc ids are kept, so the bench subset keeps its share
    of the corpus (one doc in ten at sf0.1)."""
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    n = min(n_docs, docs.num_rows)
    by_text = docs.sort_by([("text", "ascending"), ("doc_id", "ascending")])
    start = int(rng_for(seed, "corpus").integers(0, docs.num_rows - n + 1))
    window = by_text.slice(start, n).sort_by("doc_id")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(window, path, compression="snappy")
    return path
