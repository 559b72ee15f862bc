"""Benchmark harness: runs the catalog's headline rows
(``queries.headline()``) at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test
tables) on local[$SPARK_GRAFT_CPUS]. Prints an earlier JSON line with
engine-side counts and the catalog's ``row_tags``, then ONE final line:
{"metric", "value" (total sec), "unit", "queries" {name: sec}, "sf", ...}.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # Load-honesty gate (r9 lesson: a bench taken at load1 8.3 recorded a
    # 35% phantom regression vs the same-day solo run). Before the JVM
    # spins up, wait for a quiet window — up to N sleeps of W seconds
    # while 1-min loadavg exceeds the threshold. If the host never
    # quiets, run anyway but stamp the artifact `noisy: true`, so the
    # next round's comparison auto-selects the solo/SCALE.md table
    # instead of chasing a regression. Knobs (env):
    #   SPARK_GRAFT_BENCH_LOAD_MAX   quiet threshold   (default 2.0)
    #   SPARK_GRAFT_BENCH_LOAD_RETRIES  max sleeps     (default 5)
    #   SPARK_GRAFT_BENCH_LOAD_WAIT  seconds per sleep (default 60)
    load_max = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "2.0"))
    retries = int(os.environ.get("SPARK_GRAFT_BENCH_LOAD_RETRIES", "5"))
    wait_s = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "60"))
    waited = 0
    while os.getloadavg()[0] > load_max and waited < retries:
        print(
            f"# load1 {os.getloadavg()[0]:.2f} > {load_max}: waiting {wait_s:.0f}s "
            f"for a quiet window ({waited + 1}/{retries})",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(wait_s)
        waited += 1
    load1_start = round(os.getloadavg()[0], 2)
    noisy = load1_start > load_max

    from mysql_to_s3_spark import queries as catalog
    from mysql_to_s3_spark.session import get_spark

    spark = get_spark("bench")
    # warm the JVM + parquet footers so per-query numbers measure the
    # plans; agg_scalar_stats touches the heavy codegen paths (exact
    # percentile ObjectHashAggregate + count-distinct expand + union set)
    catalog.build("agg_scalar_stats")(spark, sf_dir).collect()
    catalog.build("groupby_tpch_q1")(spark, sf_dir).collect()

    # min of two runs per query: measures the plan's cost, not transient
    # host contention (single-run numbers showed 1.5-6x run-to-run noise).
    # engine_count_sec additionally times a driver-transfer-free count()
    # per row — for result-heavy rows (counters at sf1 returns 2.5M rows)
    # the collect number is transfer-bound and the count number is the
    # engine's actual cost.
    # r11 measurement-honesty fix (r10 verdict item 1): before EVERY
    # timed action, drop the cross-action warm state (the catalog rows'
    # own .cache() frames + the prep_plan composition memo) so min-of-2
    # prices each operator's per-execution cost, not a warm cache read.
    # Genuine one-time fits (classifier, IVF/PQ, BPE, bloom, lifecycle
    # receipts, streaming-drain receipts) stay session-cached — the
    # blessed convention since r6. Expect pipeline_prepare /
    # text_decontaminate / dedup_cluster_components / temporal_events to
    # read HIGHER than BENCH_r10 (which priced warm pools); the r10
    # numbers are kept in BENCH_r10.json and OPTIMIZATION_r11.md.
    headline = catalog.headline()
    times: dict[str, float] = {}
    engine_counts: dict[str, float] = {}
    for name in headline:
        best = None
        for _ in range(2):
            catalog.release_plan_memos(spark)
            t0 = time.perf_counter()
            df = catalog.build(name)(spark, sf_dir)
            df.collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 4)
        catalog.release_plan_memos(spark)
        t0 = time.perf_counter()
        catalog.build(name)(spark, sf_dir).count()
        engine_counts[name] = round(time.perf_counter() - t0, 4)

    total = round(sum(times.values()), 4)
    load1_end = round(os.getloadavg()[0], 2)
    # The driver tails only the last ~2KB of stdout and parses the FINAL
    # line as JSON (round-5 lesson: one mega-line overflowed the buffer and
    # BENCH_r05 recorded parsed:null). So: the verbose engine-count dict,
    # row tags, and protocol prose go on their own EARLIER line, and the
    # compact headline object is the last thing printed. The headline line
    # still carries BOTH measurements per row — `engine_sec[i]` is the
    # engine-side count() seconds for the i-th key of `queries` (JSON
    # object order == headline order) — as a compact aligned array so the
    # parsed artifact alone supports the wall-vs-engine ratio table.
    print(
        json.dumps(
            {
                "metric": "engine_count_sec",
                "queries": engine_counts,
                "row_tags": catalog.row_tags(),
                "protocol": (
                    "per query: min-of-2 full collect() (headline line) + "
                    "one engine-side count() (driver-transfer-free); since "
                    "r11, cached frames + plan memos are cleared before "
                    "every timed action (release_plan_memos), so each "
                    "number is the operator's COLD per-execution cost — "
                    "only one-time model/index fits and streaming-drain "
                    "receipts stay session-cached. "
                    "row_tags marks rows whose time covers several co-hosted "
                    "operators (ops) and oracle-binding-only legs (verify) — "
                    "BASELINE rows price ONE operator. Host note: totals "
                    "swing 36-70s with neighbor load; load1 markers in the "
                    "headline line adjudicate in-artifact."
                ),
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "engine_sec": [round(engine_counts[n], 3) for n in headline],
                "load1": [load1_start, load1_end],
                # True = started above the quiet threshold even after the
                # wait loop; compare such totals against SCALE.md's solo
                # table, not face-value against earlier rounds. (Only the
                # START marker decides — load1_end includes the bench's
                # own 32 worker threads.)
                "noisy": noisy,
                "sf": sf,
            }
        ),
        flush=True,
    )
    # the measurements above are the artifact; a wedged JVM teardown
    # after streaming drains must not be able to eat them (seen r9: the
    # process completed both prints into a BUFFERED stdout, hung at
    # interpreter exit, and the artifact file got only the first 4 KB
    # buffer chunk). flush=True guarantees the driver's tail-parse sees
    # both lines; stop() below is best-effort.
    try:
        spark.stop()
    except Exception:
        pass


if __name__ == "__main__":
    main()
