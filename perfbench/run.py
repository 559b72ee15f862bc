"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload jx_mix --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
layers' public functions, tags every op's jobs with a job group, and
prints the per-layer ledger, writing the spans to
``.perfbench_traces/<workload>-seed<N>.json``. Everything the run writes
goes under ``.perfbench_work/`` in the checkout and is removed at exit.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# local[N] cores, capped at the CPU count; fixed so runs on bigger hosts
# measure the same workload
CORES = 4

END_TO_END = [
    ("setup_s", "s"),
    ("cpu_s_per_op", "s"),
    ("ok_frac", "fraction"),
]
# wall-time and memory numbers spread across runs by more than any bound
# can hold on a shared host (CPU frequency and neighbour load, JIT timing
# in a cold JVM, GC heap sizing): the untraced run logs them on stderr,
# the traced run reports them per layer
UNBOUNDED = ("first_op_s", "op_p50_s", "ops_per_s", "rows_per_s", "peak_rss_mb", "out_bytes_per_row")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, help="scale factor of the test tables (0.1, 0.01 or 0.001); "
                   "the default is the workload's own")
    return p.parse_args(argv)


def hygiene(work: str, cores: int) -> dict:
    """Confine every file the run writes to ``work`` and size the JVM for
    the host. Must run before pyspark starts its JVM."""
    from perfbench import host

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    heap = host.driver_heap_mb(cores)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    # PerfDisableSharedMem: no hsperfdata file under the system /tmp, for
    # the driver JVM and for the launcher JVM spark-submit starts first
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:+PerfDisableSharedMem"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])
    return {"cores": cores, "driver_heap_mb": heap, "cpu_count": host.cpu_count(),
            "phys_mem_mb": host.physical_memory_mb(), "spark_local_dirs": "work/spark-local"}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def end_to_end(records: list[dict], setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    from perfbench.trace import median
    from perfbench.workloads import measured

    first, loop = records[0], measured(records)
    wall = loop[-1]["t1"] - loop[0]["t0"]
    return {
        "setup_s": setup_s,
        "first_op_s": first["t1"] - first["t0"],
        "op_p50_s": median(r["t1"] - r["t0"] for r in loop),
        "peak_rss_mb": peak_rss_mb,
        "ops_per_s": len(loop) / wall,
        "rows_per_s": sum(r["rows"] for r in loop) / wall,
        "cpu_s_per_op": (loop[-1]["cpu1"] - loop[0]["cpu0"]) / len(loop),
        "ok_frac": sum(r["ok"] for r in records) / len(records),
        "out_bytes_per_row": sum(r["out_bytes"] for r in loop) / max(1, sum(r["out_rows"] for r in loop)),
    }


def execute(args, work: str) -> dict:
    from perfbench import host
    from perfbench.workloads import WORKLOADS, OpLog

    info = {"workload": args.workload, "seed": args.seed, "load1_start": host.load1()}
    info.update(hygiene(work, min(CORES, host.cpu_count())))
    info.update(host.versions())
    os.chdir(work)

    from mysql_to_s3_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=info["cores"])
    session_s = time.perf_counter() - t
    tracer = None
    try:
        if args.trace:
            from perfbench import layers
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            layers.install(tracer)
        log = OpLog(tracer)
        workload = WORKLOADS[args.workload](spark, args.src, os.path.join(work, "data"), args.seed, log)
        workload.setup()
        setup_s = host.process_age_s()
        workload.run(args.seconds)
        peak = host.tree_peak_rss_mb()
        workload.check()
        records = log.records
        metrics = end_to_end(records, setup_s, peak)
        if args.trace:
            per_layer = layers.ledger(tracer, spark, records, workload, session_s)
            for k in UNBOUNDED + ("cpu_s_per_op",):
                per_layer[f"traced.{k}"] = metrics[k]
            tracer.uninstall()
            units = dict(layers.PER_LAYER)
            out = {k: {"value": float(v), "unit": units[k]} for k, v in per_layer.items()}
            traces = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), info)
        else:
            out = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END}
        info.update({k: metrics[k] for k in UNBOUNDED})
    finally:
        stop_spark(spark)
    info["load1_end"] = host.load1()
    info["ops"] = len(records)
    info["op_s"] = [[r.get("template", r.get("key", r["i"])), round(r["t1"] - r["t0"], 3)] for r in records]
    info["errors"] = [r["error"] for r in records if not r["ok"]][:5]
    print(json.dumps({"host": info}), file=sys.stderr)
    failed = sum(not r["ok"] for r in records)
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": out,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "mysql_to_s3_spark", "__init__.py")):
        print(f"perfbench: no mysql_to_s3_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    args.src = inputs.data_dir(args.sf or WORKLOADS[args.workload].SF)
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        result = execute(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
