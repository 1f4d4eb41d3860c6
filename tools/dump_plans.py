"""Dump .explain("formatted") for named declared queries into
plans/$PLANS_ROUND/<query>_<suffix>.txt — the judge-facing
before/after plan evidence for the optimization rounds.

Usage: python3 tools/dump_plans.py <suffix> <query> [<query> ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
     PLANS_ROUND (default r15)
"""

from __future__ import annotations

import os
import sys

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod
    from olap_storage_engine_spark import get_spark
    from olap_storage_engine_spark.fixtures import build_all

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    build_all(spark, SF_DIR)
    outdir = os.path.join(
        repo, "plans", os.environ.get("PLANS_ROUND", "r15")
    )
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        # a query may persist frames; a later query's plan would then
        # show an InMemoryTableScan that a fresh process never sees
        spark.catalog.clearCache()
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(plan)
        print(f"wrote {out} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
