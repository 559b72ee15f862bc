"""Which program functions make up each layer, and the per-layer ledger
the traced run reports.

Layer names follow the program's modules. ``install`` wraps the public
functions; ``ledger`` turns spans and Spark's status store into one value
per metric: the median over the timed loop's ops for per-op metrics, the
value at the end of the run for state such as the cache pool.
"""

from __future__ import annotations

import time
from collections import defaultdict

from perfbench.trace import SparkLedger, Tracer, catalyst_phases, median
from perfbench.workloads import measured

# the stage names of the pipeline_prepare config, in order
PIPELINE_STAGES = ("input", "quality", "language", "exact_dedup", "near_dedup", "decontam", "split")

PER_LAYER = [
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("registry.calls", "count"),
    ("normalize.self_s", "s"),
    ("compiler.self_s", "s"),
    ("compiler.calls", "count"),
    ("executor.build_s", "s"),
    ("executor.build_jobs", "count"),
    ("first_op.executor.build_s", "s"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.run_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.shuffle_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.gc_s", "s"),
    ("exec.python_nodes", "count"),
    ("transfer.s", "s"),
    ("transfer.rows", "count"),
    ("formats.self_s", "s"),
    ("cachepool.cached_rdds", "count"),
    ("cachepool.cached_mb", "MB"),
    ("snowflake.build_plan_s", "s"),
    ("snowflake.doc_frame_s", "s"),
    ("extract.batches_s", "s"),
    ("extract.ids_for_batch_s", "s"),
    ("extract.jobs_per_batch", "count"),
    ("json_sink.write_s", "s"),
    ("json_sink.docs", "count"),
    ("json_sink.bytes", "B"),
    ("extract.checkpoint_s", "s"),
    ("notify.s", "s"),
    ("pipeline.build_s", "s"),
    ("pipeline.build_jobs", "count"),
    ("first_op.pipeline.build_s", "s"),
    *[(f"pipeline.{s}.rows_out", "count") for s in PIPELINE_STAGES],
    *[(f"pipeline.{s}.cum_s", "s") for s in PIPELINE_STAGES],
    ("components.rounds", "count"),
    ("components.build_s", "s"),
    ("dedup.pairs_kept", "count"),
    ("traced.first_op_s", "s"),
    ("traced.op_p50_s", "s"),
    ("traced.ops_per_s", "1/s"),
    ("traced.rows_per_s", "1/s"),
    ("traced.cpu_s_per_op", "s"),
    ("traced.peak_rss_mb", "MB"),
    ("traced.out_bytes_per_row", "B"),
    ("trace.self_s", "s"),
    ("trace.spans", "count"),
]


def install(tracer: Tracer) -> None:
    from mysql_to_s3_spark import pipeline
    from mysql_to_s3_spark.functions import compiler
    from mysql_to_s3_spark.operators import components, decontam, dedup, executor, windows
    from mysql_to_s3_spark.plans import domains, formats, normalize
    from mysql_to_s3_spark.sinks import json_sink, notify
    from mysql_to_s3_spark.sources import extract, registry, snowflake

    tracer.wrap(registry, "load_table", "registry.load")
    tracer.wrap(normalize.QueryOp, "wrap", "normalize")
    tracer.wrap(compiler, "compile_expression", "compiler")
    tracer.wrap(executor, "run", "executor.build", job_tag=True)
    tracer.wrap(domains, "compile_domain", "domains")
    tracer.wrap(windows, "apply_window", "windows")
    for fmt in ("format_list", "format_table", "format_cube"):
        tracer.wrap(formats, fmt, "formats", capture=True)
    tracer.wrap(snowflake, "build_plan", "snowflake.build_plan")
    tracer.wrap(snowflake, "doc_frame", "snowflake.doc_frame")
    tracer.wrap(extract.Extract, "batches", "extract.batches", job_tag=True)
    tracer.wrap(extract.Extract, "ids_for_batch", "extract.ids_for_batch")
    tracer.wrap(json_sink, "write_json_lines", "json_sink.write", job_tag=True)
    tracer.wrap(extract, "write_checkpoint", "extract.checkpoint_file")
    tracer.wrap(notify.FileQueue, "add", "notify")
    tracer.wrap(pipeline, "prepare_corpus", "pipeline.build", job_tag=True)
    tracer.wrap(dedup, "exact_dedup", "dedup.exact")
    tracer.wrap(decontam, "decontaminate", "decontam")

    # result transfer: from the end of the collect's last job to the rows
    # reaching Python (serving, unpickling and Row conversion)
    rows_orig = formats._rows

    def rows(df):
        with tracer.span("transfer.collect", job_tag=True):
            out = rows_orig(df)
        tracer.captured["transfer.rows"].append((tracer.op, len(out), time.time()))
        return out

    tracer.patch(formats, "_rows", rows)

    # components: ask for the round count the operator can report
    cc_orig = components.connected_components

    def connected_components(*a, stats=None, **k):
        stats = {} if stats is None else stats
        with tracer.span("components", job_tag=True):
            out = cc_orig(*a, stats=stats, **k)
        tracer.captured["components.rounds"].append((tracer.op, stats.get("rounds", 0)))
        return out

    tracer.patch(components, "connected_components", connected_components)

    # near-dup pair finders are dispatched through a dict, not an attribute
    for key, fn in list(pipeline.NEAR_DUP_PAIRS.items()):
        def pairs(*a, _fn=fn, **k):
            with tracer.span("dedup.pairs"):
                out = _fn(*a, **k)
            tracer.captured["dedup.pairs"].append((tracer.op, out))
            return out

        tracer.patch(pipeline.NEAR_DUP_PAIRS, key, pairs)


def ledger(tracer: Tracer, spark, records: list[dict], workload, session_s: float) -> dict[str, float]:
    """One value per PER_LAYER metric."""
    spark_ledger = SparkLedger(spark)  # the state at the end of the loop
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"] = session_s
    loop = measured(records)
    ops = [r["op"] for r in loop]
    selft = tracer.self_times()
    dur, calls = tracer.totals()

    def per_op(key_fn) -> float:
        return median(key_fn(op) for op in ops) if ops else 0.0

    m["registry.load_s"] = per_op(lambda op: dur[(op, "registry.load")])
    m["registry.calls"] = per_op(lambda op: calls[(op, "registry.load")])
    m["normalize.self_s"] = per_op(lambda op: selft[(op, "normalize")])
    m["compiler.self_s"] = per_op(lambda op: selft[(op, "compiler")])
    m["compiler.calls"] = per_op(lambda op: calls[(op, "compiler")])
    m["executor.build_s"] = per_op(lambda op: dur[(op, "executor.build")])
    m["formats.self_s"] = per_op(lambda op: selft[(op, "formats")])
    m["snowflake.build_plan_s"] = dur[(None, "snowflake.build_plan")]
    m["snowflake.doc_frame_s"] = per_op(lambda op: dur[(op, "snowflake.doc_frame")])
    m["extract.batches_s"] = sum(v for (op, name), v in dur.items() if name == "extract.batches")
    m["extract.ids_for_batch_s"] = per_op(lambda op: dur[(op, "extract.ids_for_batch")])
    m["json_sink.write_s"] = per_op(lambda op: dur[(op, "json_sink.write")])
    m["notify.s"] = per_op(lambda op: dur[(op, "notify")])
    m["pipeline.build_s"] = per_op(lambda op: dur[(op, "pipeline.build")])
    m["components.build_s"] = per_op(lambda op: dur[(op, "components")])
    if records:
        first = records[0]["op"]
        m["first_op.executor.build_s"] = dur[(first, "executor.build")]
        m["first_op.pipeline.build_s"] = dur[(first, "pipeline.build")]

    # the checkpoint's min-id job runs between the sink write and the file
    ends: dict = defaultdict(dict)
    for s in tracer.spans:
        if s["name"] in ("json_sink.write", "extract.checkpoint_file") and s["end"] is not None:
            ends[s["op"]][s["name"]] = s["end"]
    m["extract.checkpoint_s"] = per_op(
        lambda op: ends[op]["extract.checkpoint_file"] - ends[op]["json_sink.write"]
        if {"json_sink.write", "extract.checkpoint_file"} <= set(ends[op]) else 0.0
    )
    m["json_sink.docs"] = median(r["out_rows"] for r in loop) if workload.name.startswith("extract") else 0.0
    m["json_sink.bytes"] = median(r["out_bytes"] for r in loop) if workload.name.startswith("extract") else 0.0

    # Spark: jobs per op group, their stages, their SQL plans
    exec_m = {op: spark_ledger.exec_metrics(spark_ledger.job_ids(op)) for op in ops}
    for k in ("run_s", "cpu_s", "jobs", "stages", "tasks", "shuffle_mb", "spill_mb", "gc_s", "python_nodes"):
        m[f"exec.{k}"] = per_op(lambda op: exec_m[op][k])
    m["executor.build_jobs"] = per_op(lambda op: len(spark_ledger.job_ids(op, "executor.build")))
    m["pipeline.build_jobs"] = per_op(lambda op: len(spark_ledger.job_ids(op, "pipeline.build")))
    m["extract.jobs_per_batch"] = m["exec.jobs"] if workload.name.startswith("extract") else 0.0

    # per-op captures
    by_op = defaultdict(list)
    for op, df in tracer.captured.get("formats", []):
        by_op[op].append(df)
    phases = {op: [catalyst_phases(df) for df in by_op[op]] for op in ops}
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = per_op(lambda op: sum(p[ph] for p in phases[op]))
    trows, tsec = defaultdict(int), defaultdict(float)
    for op, n, returned in tracer.captured.get("transfer.rows", []):
        trows[op] += n
        done = spark_ledger.last_completion(spark_ledger.job_ids(op, "transfer.collect"))
        if done is not None:
            tsec[op] += max(0.0, returned - done)
    m["transfer.rows"] = per_op(lambda op: trows[op])
    m["transfer.s"] = per_op(lambda op: tsec[op])
    rounds = defaultdict(int)
    for op, n in tracer.captured.get("components.rounds", []):
        rounds[op] += n
    m["components.rounds"] = per_op(lambda op: rounds[op])

    # extra jobs, run after the snapshot above so no op's numbers see them:
    # the last pass's verified pair count and its stage funnel
    pairs = [out for op, out in tracer.captured.get("dedup.pairs", []) if op == (ops[-1] if ops else None)]
    if pairs:
        m["dedup.pairs_kept"] = float(pairs[-1].count())
    prep = getattr(workload, "last_prep", None)
    if prep is not None:
        for name, sdf in prep.stages:
            if name in PIPELINE_STAGES:
                t = time.perf_counter()
                m[f"pipeline.{name}.rows_out"] = float(sdf.count())
                m[f"pipeline.{name}.cum_s"] = time.perf_counter() - t
    m["cachepool.cached_rdds"], m["cachepool.cached_mb"] = spark_ledger.cached_rdds, spark_ledger.cached_mb
    m["trace.self_s"] = tracer.self_s
    m["trace.spans"] = float(len(tracer.spans))
    return m
