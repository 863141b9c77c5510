"""Dump `.explain("formatted")` for named registered queries.

    python scripts/dump_plans.py <out_dir> <suffix> name1 [name2 ...]

Writes <out_dir>/<name>_<suffix>.txt per query: run it before and after a
plan change and diff the two files to check a structural claim."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_db_spark.queries import all_queries  # noqa: E402
from vector_db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, suffix, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("dump_plans")
    for name in names:
        df = queries[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
