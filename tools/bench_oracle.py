"""Re-time the DuckDB oracle SQL for the catalog's headline rows — the
denominator of the bench-vs-baseline ratio (BASELINE.md: 'within 2x at
the same sf'; the reference publishes no numbers, so the DuckDB oracle
at the same scale factor is the operative single-node baseline).

Usage: python tools/bench_oracle.py [sf_dir]   (default /root/testdata/sf0.1)

Prints one line per query (min of two runs) and a total. Queries whose
oracle is INTRACTABLE at sf0.1 are skipped with a note — the all-pairs
minhash oracle ran >15 min and the decontamination oracle >300 s in
prior rounds (their Spark plans are the bucketed/broadcast forms that
exist precisely to avoid that work); `agg_scalar_moments_approx` has no
oracle by design (sketches).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP = {
    "agg_scalar_moments_approx": "no oracle (approx sketches)",
    # text_stats returned to the tractable set in r10: binding the text
    # words/bigram arrays via LATERAL (instead of re-deriving the regexp
    # inside each signal's lambdas) took the oracle from 417+ s to ~16 s
    # at sf0.1 — same rows, hash-identical (see _text_stats_sql)
    "dedup_minhash_lsh": "all-pairs oracle >15 min at sf0.1",
    "dedup_cluster_components": "all-pairs + recursive-CTE closure oracle >15 min at sf0.1",
    "text_decontaminate": "oracle >300 s at sf0.1",
    "pipeline_prepare": (
        "composition oracle embeds the all-pairs Jaccard join + "
        "recursive-CTE closure + all-pairs containment — each "
        "individually intractable at sf0.1 (see the rows above)"
    ),
}


def main() -> None:
    import duckdb

    from mysql_to_s3_spark import queries as catalog

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count()}")
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    times: dict[str, float] = {}
    for name in catalog.headline():
        if name in SKIP:
            print(f"skip  {name}: {SKIP[name]}", file=sys.stderr)
            continue
        sql = catalog.oracle(name)
        if sql is None:
            print(f"skip  {name}: no oracle", file=sys.stderr)
            continue
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 4)
        print(f"{best:8.2f}  {name}", file=sys.stderr)
    print(json.dumps({"metric": "duckdb_oracle_total", "value": round(sum(times.values()), 4),
                      "unit": "sec", "queries": times, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
