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

# Load-honesty gate (r9 lesson: a bench taken at load1 8.3 recorded a
# 35% phantom regression vs the same-day solo run). Before the JVM
# spins up, wait for a quiet window — up to LOAD_RETRIES sleeps of
# LOAD_WAIT_S seconds while 1-min loadavg exceeds LOAD_MAX. If the host
# never quiets, run anyway but stamp the artifact `noisy: true`, so the
# next round's comparison auto-selects the solo/SCALE.md table instead
# of chasing a regression.
LOAD_MAX = 2.0
LOAD_RETRIES = 5
LOAD_WAIT_S = 60.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    waited = 0
    while os.getloadavg()[0] > LOAD_MAX and waited < LOAD_RETRIES:
        print(
            f"# load1 {os.getloadavg()[0]:.2f} > {LOAD_MAX}: waiting {LOAD_WAIT_S:.0f}s "
            f"for a quiet window ({waited + 1}/{LOAD_RETRIES})",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(LOAD_WAIT_S)
        waited += 1
    load1_start = round(os.getloadavg()[0], 2)
    noisy = load1_start > LOAD_MAX

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
    # Before EVERY timed action, clear the session's CacheManager (the
    # catalog rows' own .cache() frames) so min-of-2 prices each row's
    # cold per-execution cost, not a warm cache read. No row keeps
    # anything else between builds: every build re-runs its own fits
    # (classifier, IVF/PQ, BPE, bloom), fixture and lifecycle writes and
    # streaming drains, so each number includes them. BENCH_r11 and
    # earlier cached those once per session, so their min-of-2 read
    # lower for the rows that carry them.
    headline = catalog.headline()
    times: dict[str, float] = {}
    engine_counts: dict[str, float] = {}
    for name in headline:
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = catalog.build(name)(spark, sf_dir)
            df.collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 4)
        spark.catalog.clearCache()
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
                    "one engine-side count() (driver-transfer-free); "
                    "cached frames are cleared before every timed action "
                    "(spark.catalog.clearCache()), and every build re-runs "
                    "its own fits, fixture writes and streaming drains, so "
                    "each number is the row's COLD per-build cost. "
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
