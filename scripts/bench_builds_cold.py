"""Cold-sample protocol for the one-shot ``*_build`` bench rows (PERF.md,
Builds): each build is timed in a FRESH subprocess (fresh JVM, fresh
per-process model cache), min-of-N across subprocesses, so the number is
a true cold build — bench.py's in-process samples are single-shot by
construction (a second call hits the memoized cache and times nothing)
and one of them measured swinging 3.8→20.3 s under co-tenant load.

Wall cost: ~(JVM startup + build) × 6 builds × N samples; startup is
excluded from the timed span (the subprocess times the build only and
prints one JSON line).

    python scripts/bench_builds_cold.py [--samples 2] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BUILDS = {
    "ivf_kmeans_build": ("vector_db_spark.queries.indexing", "_kmeans_index"),
    "ivfpq_build": ("vector_db_spark.queries.indexing", "_ivfpq_index"),
    "pq_train_build": ("vector_db_spark.queries.pquant", "_pq_model"),
    "opq_build": ("vector_db_spark.queries.pquant", "_opq_model"),
    "inverted_index_build": ("vector_db_spark.queries.curation", "_inverted_index"),
    "als_build": ("vector_db_spark.queries.indexing", "_als_model"),
}

_CHILD = """
import importlib, json, sys, time
sys.path.insert(0, {repo!r})
from vector_db_spark.session import get_spark
spark = get_spark("cold-build")
spark.sparkContext.setLogLevel("ERROR")
# pay the scan/footer warm-up outside the timed span, like bench.py
from vector_db_spark.io import load_tables
for df in load_tables(spark, {sf_dir!r}).values():
    df.count()
fn = getattr(importlib.import_module({mod!r}), {attr!r})
t0 = time.perf_counter()
fn(spark, {sf_dir!r})
print(json.dumps({{"sec": round(time.perf_counter() - t0, 3)}}))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    results: dict[str, dict] = {}
    for name, (mod, attr) in BUILDS.items():
        samples = []
        for _ in range(args.samples):
            child = _CHILD.format(repo=REPO, sf_dir=args.sf_dir, mod=mod, attr=attr)
            out = subprocess.run(
                [sys.executable, "-c", child],
                capture_output=True, text=True, check=True, cwd=REPO,
            )
            samples.append(json.loads(out.stdout.strip().splitlines()[-1])["sec"])
        results[name] = {"cold_min_sec": min(samples), "samples": samples}
        print(f"# {name}: cold min {min(samples)}s {samples}", flush=True)
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
