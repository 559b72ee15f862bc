"""Capture .explain("formatted") for headline catalog rows.

Usage:
    python tools/explain_plans.py <out_dir> <suffix> [name ...]

Writes <out_dir>/<name>_<suffix>.txt for each requested row (default:
every catalog headline row), e.g. ``plans/r12 before``. The files back
plan claims (Exchange counts, join strategies, PushedFilters,
BatchEvalPython nodes) — capture them BEFORE and AFTER each change
(suffix 'before' / 'after').

Notes:
- Builds each row once and prints the FORMATTED plan of the returned
  DataFrame. Rows that stage work at build time (fits, streaming drains,
  in-row writes) pay that once here; the captured plan is the final
  collected plan, which is what the bench times.
- Runs at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]
  — the same shape the bench measures.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mysql_to_s3_spark import queries as catalog
    from mysql_to_s3_spark.session import get_spark

    names = sys.argv[3:] or catalog.headline()
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("explain_plans")
    for name in names:
        spark.sparkContext.setJobDescription(f"explain: {name}")
        df = catalog.build(name)(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
