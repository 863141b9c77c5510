"""Second-scale oracle robustness sweep: every registered oracle at sf0.001.

The CI gate (tests/test_queries_oracle.py) runs the full registry at
sf0.01 — the driver's correctness scale. This sweep repeats it at
sf0.001, where tiny-corpus edges live: empty candidate sets, invariant
bars that stop being satisfiable (copurchase_ppr_expansion's
concentration bar once exceeded total mass at 40 nodes), degenerate group
counts. Run after registry changes:

    python scripts/sweep_sf0001.py

Prints one OK/FAIL line per query and a final BAD list; exits 1 on any
failure.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from tests.oracle_utils import assert_parity, duckdb_con
    from vector_db_spark.queries import all_oracles, all_queries
    from vector_db_spark.session import get_spark

    spark = get_spark("sweep-sf0001", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    con = duckdb_con(sf)
    qs, osql = all_queries(), all_oracles()
    bad = []
    for name in sorted(osql):
        try:
            assert_parity(qs[name](spark, sf), con, osql[name], name)
            print(name, "OK", flush=True)
        except Exception as ex:  # noqa: BLE001 - report-and-continue sweep
            bad.append(name)
            print(name, "FAIL", str(ex)[:300].replace("\n", " "), flush=True)
    print("SF0001-BAD:", bad)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
