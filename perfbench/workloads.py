"""The four workloads, each driven through the program's public APIs.

A workload generates its inputs in ``setup`` and then runs a fixed number
of ops in a closed loop with one client: the first op in the fresh
session, then the measured ops. The op count is fixed so that a metric
keeps one definition whatever the host's speed. Ops that run on after
those, while the run's seconds are not yet spent, are marked ``extra``:
they are checked, but they enter no per-op metric. Every op's output is
checked after the timed window. Op records carry what the harness turns
into metrics.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import re
import time

from perfbench import host, inputs, jx_templates
from perfbench.inputs import Stats, rng_for, table_paths


class Deadline(Exception):
    """Raised from the extract notify hook once the run's time is spent."""


class OpLog:
    """Op records: start/end times, process-tree CPU at each boundary,
    and the counts each workload fills in."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.records: list[dict] = []
        self._open: dict | None = None

    def begin(self, **info) -> dict:
        i = len(self.records)
        rec = {"i": i, "op": f"op-{i}", "ok": True, "rows": 0, "out_rows": 0, "out_bytes": 0, **info}
        if self.tracer is not None:
            rec["sid"] = self.tracer.begin_op(rec["op"])
        rec["cpu0"] = host.tree_cpu_s()
        rec["t0"] = time.perf_counter()
        self._open = rec
        return rec

    def end(self, ok: bool = True, error: str | None = None, **counts) -> dict:
        rec = self._open
        rec["t1"] = time.perf_counter()
        rec["cpu1"] = host.tree_cpu_s()
        if self.tracer is not None:
            self.tracer.end_op(rec.pop("sid"))
        rec["ok"] = ok
        if error:
            rec["error"] = error
        rec.update(counts)
        self.records.append(rec)
        self._open = None
        return rec

    def discard(self) -> None:
        if self._open is not None and self.tracer is not None:
            self.tracer.end_op(self._open.pop("sid"))
        self._open = None


def measured(records: list[dict]) -> list[dict]:
    """The ops the per-op metrics describe: the fixed ops after the first,
    or the first alone when it is the only fixed op."""
    fixed = [r for r in records if not r.get("extra")]
    return fixed[1:] or fixed[:1]


class Workload:
    """Base: why each workload exists is in perfbench/README.md."""

    name = ""
    # scale factor of the test tables: orders = 1.5M x sf, as in TPC-H
    SF = 0.1

    def __init__(self, spark, src: str, work: str, seed: int, log: OpLog):
        self.spark = spark
        self.src = src  # the test tables, read only
        self.work = work  # where the run writes
        self.seed = seed
        self.log = log
        self.stats = Stats.of(src)

    def setup(self) -> None:
        raise NotImplementedError

    def run(self, seconds: float) -> None:
        """The fixed ops, then extra ops until ``seconds`` have passed."""
        raise NotImplementedError

    def check(self) -> None:
        """Mark each op record ok or not; runs after the timed window."""
        raise NotImplementedError

    def _attempt(self, fn, **info) -> None:
        self.log.begin(**info)
        try:
            counts = fn()
        except Exception as e:  # an op that raises counts as failed
            self.log.end(ok=False, error=f"{type(e).__name__}: {e}"[:500])
            return
        self.log.end(**counts)


def _duck(paths: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# ---------------------------------------------------------------------------
# jx_mix


class JxMix(Workload):
    name = "jx_mix"
    # the measured ops are one block: every template once, plus repeats
    BLOCKS = 1
    STREAM_BLOCKS = 8

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from mysql_to_s3_spark.sources import registry

        rng = rng_for(self.seed, "jx_mix")
        self.first = jx_templates.groupby_flags(rng, self.stats)
        self.first.input_rows = self.stats.rows["lineitem"]
        self.stream = jx_templates.request_stream(rng, self.stats, self.STREAM_BLOCKS)
        # the nested-table container of the `fact.items` requests
        orders = registry.load_table(self.spark, self.src, "orders")
        items = registry.load_table(self.spark, self.src, "lineitem")
        children = items.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_list(F.struct("l_linenumber", "l_quantity", "l_extendedprice"))).alias("items")
        )
        self.containers = {
            "fact": orders.join(children, orders.o_orderkey == children.l_orderkey, "left").drop("l_orderkey")
        }
        self.results: dict[int, list] = {}

    def _op(self, req: jx_templates.Request) -> dict:
        from mysql_to_s3_spark.plans import formats

        res = formats.run_formatted(req.query, spark=self.spark, sf_dir=self.src, containers=self.containers)
        rows = jx_templates.result_rows(res, req.query.get("format", "list"))
        self.results[len(self.log.records)] = rows
        return {
            "rows": req.input_rows,
            "out_rows": max(1, len(rows)),
            "out_bytes": len(json.dumps(res, default=str)),
        }

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self.requests = [self.first]
        self._attempt(lambda: self._op(self.first), template=self.first.template)
        block = jx_templates.block_size()
        for i, req in enumerate(self.stream):
            # extra ops stop at a block boundary, with the same template mix
            extra = i >= self.BLOCKS * block
            if extra and i % block == 0 and time.perf_counter() - t0 >= seconds:
                break
            self.requests.append(req)
            self._attempt(lambda r=req: self._op(r), template=req.template, extra=extra)

    def check(self) -> None:
        con = _duck(table_paths(self.src))
        for rec, req in zip(self.log.records, self.requests):
            if not rec["ok"]:
                continue
            want = [tuple(jx_templates.norm_value(v) for v in r) for r in con.execute(req.sql).fetchall()]
            if not jx_templates.rows_match(self.results[rec["i"]], want, req.ordered):
                rec["ok"] = False
                rec["error"] = f"{req.template}: result differs from the DuckDB SQL"


# ---------------------------------------------------------------------------
# snowflake extract

FACT_IDS = {
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
# dims customer -> nation -> region; lineitem children carry part and supplier
RELATIONS = [
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


class _Extract(Workload):
    batch = 1000
    # batches per run: the first (cold) one, then the measured ones
    OPS = 5

    def setup(self) -> None:
        from mysql_to_s3_spark.sinks.notify import FileQueue
        from mysql_to_s3_spark.sources import registry, snowflake

        self.tables = {t: registry.load_table(self.spark, self.src, t) for t in FACT_IDS}
        meta = [snowflake.TableMeta(t, self.tables[t].columns, ids) for t, ids in FACT_IDS.items()]
        rels = [snowflake.Relation(n, t, [c], rt, [rc]) for n, t, c, rt, rc in RELATIONS]
        self.cfg = snowflake.SnowflakeConfig(fact_table="orders")
        self.plan = snowflake.build_plan(meta, rels, self.cfg)
        self.queue = FileQueue(os.path.join(self.work, "notify.jsonl"))

    def _extract(self, tables, start: int, name: str):
        from mysql_to_s3_spark.sources.extract import Extract, ExtractConfig

        return Extract(tables, self.plan, self.cfg, ExtractConfig(
            field="o_orderkey",
            start=start,
            batch=self.batch,
            destination=os.path.join(self.work, "out", name),
            last=os.path.join(self.work, f"{name}.checkpoint.json"),
            key_format="a.b",
            source_name="orders",
        ))

    def _drive(self, extracts, seconds: float) -> None:
        """Run each Extract in turn, one op per batch, until the notify hook
        finds the fixed batches done and the run's time spent."""
        log, queue = self.log, self.queue
        t0 = time.perf_counter()

        def add(msg: dict) -> None:
            queue.add(msg)
            log.end(key=msg["key"], dest=msg["bucket"])
            extra = len(log.records) >= self.OPS
            if extra and time.perf_counter() - t0 >= seconds:
                raise Deadline()
            log.begin(extra=extra)

        log.begin()
        try:
            for ex in extracts:
                ex.run(notify=add)
        except Deadline:
            pass
        except Exception as e:  # the batch in flight failed
            log.end(ok=False, error=f"{type(e).__name__}: {e}"[:500])
        log.discard()

    def _check(self, lo: int, hi: int, start: int) -> None:
        """Every written batch against DuckDB: exactly the window's ids of
        that batch, etl.id = the batch key, and the lineitem count of each
        order. ``start`` is the extract start the batch keys count from."""
        con = _duck(table_paths(self.src))
        key_of = dict(con.execute(
            f"""SELECT o_orderkey,
                       '0.' || CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // {self.batch} AS VARCHAR)
                FROM orders WHERE o_orderkey >= {start} AND o_orderkey < {hi}"""
        ).fetchall())
        items = dict(con.execute(
            f"SELECT l_orderkey, count(*) FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi} GROUP BY 1"
        ).fetchall())
        for rec in self.log.records:
            if "key" not in rec:
                continue
            bdir = os.path.join(rec["dest"], rec["key"])
            docs, size = [], 0
            for fn in sorted(os.listdir(bdir)):
                if fn.startswith(("_", ".")):
                    continue
                size += os.path.getsize(os.path.join(bdir, fn))
                with open(os.path.join(bdir, fn)) as f:
                    docs.extend(json.loads(line) for line in f if line.strip())
            rec["rows"] = rec["out_rows"] = len(docs)
            rec["out_bytes"] = size
            expect = sorted(k for k, key in key_of.items() if key == rec["key"] and k >= lo)
            errs = []
            if sorted(d["orders"]["o_orderkey"] for d in docs) != expect:
                errs.append(f"ids differ ({len(docs)} docs, {len(expect)} expected)")
            for d in docs:
                li = d["orders"].get("lineitem")
                n = 0 if li is None else (len(li) if isinstance(li, list) else 1)
                if n != items.get(d["orders"]["o_orderkey"], 0):
                    errs.append(f"lineitem count of order {d['orders']['o_orderkey']}")
                    break
                if d["etl"]["id"] != rec["key"]:
                    errs.append(f"etl.id {d['etl']['id']} != batch key {rec['key']}")
                    break
            if errs and rec["ok"]:
                rec["ok"] = False
                rec["error"] = "; ".join(errs)


class ExtractBulk(_Extract):
    """Full extracts of a seeded window of orders, in three large
    batches each, pass after pass; the measured ops are one pass."""

    name = "extract_bulk"
    OPS = 3

    def setup(self) -> None:
        super().setup()
        self.batch = max(100, self.stats.orders // 15)
        width = 3 * self.batch
        self.lo = int(rng_for(self.seed, "extract_bulk").integers(0, self.stats.orders - width))
        self.hi = self.lo + width

    def run(self, seconds: float) -> None:
        from pyspark.sql import functions as F

        tables = dict(self.tables)
        tables["orders"] = self.tables["orders"].filter(
            (F.col("o_orderkey") >= self.lo) & (F.col("o_orderkey") < self.hi)
        )
        self._drive((self._extract(tables, self.lo, f"pass{n}") for n in itertools.count()), seconds)

    def check(self) -> None:
        self._check(self.lo, self.hi, self.lo)


class ExtractIncremental(_Extract):
    """Resume from a seeded checkpoint over the whole order history, in
    batches of 1,000 docs."""

    name = "extract_incremental"
    SF = 0.01
    # batches the seeded checkpoint leaves ahead of it
    HEADROOM = 5

    def setup(self) -> None:
        from mysql_to_s3_spark.sources.extract import write_checkpoint

        super().setup()
        total = math.ceil(self.stats.orders / self.batch)
        self.cp_batch = int(rng_for(self.seed, "extract_incremental").integers(0, max(1, total - self.HEADROOM)))
        self.resume = self._extract(self.tables, 0, "resume")
        write_checkpoint(self.resume.extract.last, (0, self.cp_batch), self.cp_batch * self.batch)

    def run(self, seconds: float) -> None:
        self._drive([self.resume], seconds)

    def check(self) -> None:
        self._check((self.cp_batch + 1) * self.batch, self.stats.orders, 0)


# ---------------------------------------------------------------------------
# corpus_prepare

CORPUS_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}


class CorpusPrepare(Workload):
    """prepare_corpus with the pipeline_prepare config; each op prepares
    its own seeded sample of the test documents, so no op reuses another
    op's pools. The measured op is the one cold pass."""

    name = "corpus_prepare"
    SHARDS = 3
    DOCS_PER_SHARD = 150

    def setup(self) -> None:
        self.n_docs = min(self.DOCS_PER_SHARD, self.stats.rows["documents"])
        self.shards = [
            inputs.write_corpus_sample(self.src, os.path.join(self.work, f"shard{k}"), self.seed * 1000 + k,
                                       self.DOCS_PER_SHARD)
            for k in range(self.SHARDS)
        ]
        self.kept: dict[int, list] = {}

    def _config(self):
        from mysql_to_s3_spark.pipeline import CorpusConfig

        return CorpusConfig(
            min_quality=0.75,
            languages=("en",),
            exact=True,
            near_dup="ngram",
            near_threshold=0.9,
            decontam_threshold=0.8,
            splits=CORPUS_SPLITS,
        )

    def _op(self, k: int) -> dict:
        from pyspark.sql import functions as F

        from mysql_to_s3_spark import pipeline
        from mysql_to_s3_spark.sources import registry

        docs = registry.spread(registry.load_table(self.spark, os.path.dirname(self.shards[k]), "documents"))
        bench = docs.filter((F.col("doc_id") % inputs.BENCH_MOD == 0) & (F.col("doc_id") < inputs.BENCH_MAX))
        prep = pipeline.prepare_corpus(docs, self._config(), bench=bench)
        self.last_prep = prep
        rows = prep.docs.collect()
        self.kept[len(self.log.records)] = sorted((int(r["doc_id"]), r["split"]) for r in rows)
        return {
            "rows": self.n_docs,
            "out_rows": max(1, len(rows)),
            "out_bytes": sum(len(r["text"].encode()) for r in rows),
            "shard": k,
        }

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        for k in range(self.SHARDS):
            if k and time.perf_counter() - t0 >= seconds:
                break
            self._attempt(lambda k=k: self._op(k), extra=k > 0)

    def check(self) -> None:
        import duckdb

        from mysql_to_s3_spark import queries

        # the catalog oracle, with every CTE materialized: DuckDB would
        # otherwise re-evaluate the all-pairs shingle joins per reference
        sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", queries.oracle("pipeline_prepare"))
        for rec in self.log.records:
            if not rec["ok"]:
                continue
            con = duckdb.connect()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.shards[rec['shard']]}')")
            want = sorted((int(k), t) for k, t in con.execute(f"SELECT key, tag FROM ({sql}) WHERE leg = 'kept'").fetchall())
            if self.kept[rec["i"]] != want:
                rec["ok"] = False
                rec["error"] = f"kept set differs from the oracle ({len(self.kept[rec['i']])} vs {len(want)})"


WORKLOADS = {w.name: w for w in (JxMix, ExtractBulk, ExtractIncremental, CorpusPrepare)}
