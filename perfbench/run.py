"""Vector-engine benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload serve_search --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The workload's inputs are made from
``--seed``; set-up runs several times and the last set-up serves the timed
loop, which measures ``--seconds`` of operation time after one untimed
warm-up round. Every
result is checked. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` Spark's event log is on and the
line carries the per-layer metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("serve_search", "ingest_churn")
# a seed never used while the benchmark was written, kept for later claims
HELD_OUT_SEED = 424242


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(work: str, trace: bool) -> None:
    """Point every writer of the run (Spark scratch, JVM and Python temp
    files, the event log) into ``work`` and make the checkout importable
    by Spark's Python workers."""
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM of the run (the launcher and Spark's own) keeps its temp
    # files in the work directory and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"


def _assert_checkout(spark) -> str:
    """This process and an executor task must both import the program from
    this checkout."""
    import vector_db_spark

    def where(_):
        import vector_db_spark as v

        return v.__file__

    paths = [vector_db_spark.__file__] + spark.sparkContext.parallelize([0], 1).map(where).collect()
    for p in paths:
        if not os.path.abspath(p).startswith(ROOT + os.sep):
            raise RuntimeError(f"vector_db_spark imported from {p}, not from {ROOT}")
    return paths[-1]


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    import importlib

    from common import Samples, canary, cpu_between, cpu_snapshot, tail

    wl = importlib.import_module(args.workload)
    out = {"attempted": 0, "failed": 0, "failures": [], "canary_s": [canary()],
           "timed_jit_s": 0.0}

    def attempt(op, samples=None, tracer=None):
        out["attempted"] += 1
        c0 = cpu_snapshot()
        t0 = time.perf_counter()
        try:
            if tracer is not None and samples is not None:
                with tracer.op(op.kind) as info:
                    result = op.run()
                    info["rows"] = len(result) if isinstance(result, list) else 0
            else:
                result = op.run()
        except Exception as e:  # an operation that raises is a failed one
            out["failed"] += 1
            out["failures"].append(f"{op.kind}: {type(e).__name__}: {e}"[:300])
            traceback.print_exc(file=sys.stderr)
            return
        dt = time.perf_counter() - t0
        if samples is not None:
            c1 = cpu_snapshot()
            cpu, jit = cpu_between(c0, c1)
            samples.add(op.kind, dt, cpu)
            out["timed_jit_s"] += jit
            out["cpu_tree_procs"] = len({k[1] for k in c1})
        bad = op.check(result) if op.check else []
        if bad:
            out["failed"] += 1
            out["failures"].extend(bad[:3])

    t0 = time.perf_counter()
    from vector_db_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    try:
        out["executor_module"] = _assert_checkout(spark)
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, os.path.join(work, "eventlog"))
            tracer.install()
            tracer.record("session.get_spark", t0, t0 + session_s)
        reps = []
        for rep in range(wl.SETUP_REPS):
            t1 = time.perf_counter()
            state = wl.setup(spark, work, args.seed, rep)
            reps.append(time.perf_counter() - t1)
        out["setup_reps_s"] = reps
        out["session_s"] = session_s
        setup_s = session_s + statistics.median(reps)

        # warm-up: untimed (but checked) cycles, numbered 0
        if tracer is not None:
            tracer.phase = "warmup"
        t1 = time.perf_counter()
        for _ in range(wl.WARMUP_CYCLES):
            for op in wl.cycle(state, 0):
                attempt(op, None, tracer)
        out["warmup_s"] = time.perf_counter() - t1

        if tracer is not None:
            tracer.phase = "timed"
        # whole cycles, at least MIN_CYCLES, until --seconds of operation
        # time are measured; the checks between operations are not timed.
        # Failing operations add no time, so the wall clock caps the loop too.
        samples = Samples()
        t_start = time.perf_counter()
        i = 1
        while (i <= wl.MIN_CYCLES or samples.total() < args.seconds) and \
                time.perf_counter() - t_start < 3 * args.seconds + 60:
            for op in wl.cycle(state, i):
                attempt(op, samples, tracer)
            i += 1
        wall = time.perf_counter() - t_start
        if not samples.count():
            raise RuntimeError(f"no operation succeeded: {out['failures'][:3]}")
        if tracer is not None:
            tracer.phase = "finish"
        bad, detail = wl.finish(state)
        out["attempted"] += 1
        if bad:
            out["failed"] += 1
            out["failures"].extend(bad)
        out["canary_s"].append(canary())
        med, cpu_med = samples.medians(), samples.cpu_medians()
        all_lat = [v for vs in samples.by_kind.values() for v in vs]
        n = samples.count()
        out["metrics"] = {
            "setup_s": (setup_s, "s"),
            # per-kind medians, so neither one outlier nor the number of
            # cycles the loop fitted in (which sets the kinds' shares) moves it
            "cpu_s_per_op": (statistics.fmean(cpu_med.values()), "s"),
            "cpu_p50_geomean_s": (statistics.geometric_mean(cpu_med.values()), "s"),
        }
        out["detail"] = {
            "workload": args.workload,
            "seed": args.seed,
            "held_out_seed": HELD_OUT_SEED,
            "sizes": wl.SIZES,
            "timed_wall_s": wall,
            "samples_per_kind": {k: len(v) for k, v in samples.by_kind.items()},
            # wall-clock latency: reported, not gated (README.md)
            "ops_per_s": n / sum(len(v) * med[k] for k, v in samples.by_kind.items()),
            "p50_geomean_s": statistics.geometric_mean(med.values()),
            "p50_s_per_kind": med,
            "cpu_p50_s_per_kind": cpu_med,
            "samples_s": {k: [round(x, 4) for x in v] for k, v in samples.by_kind.items()},
            "cpu_samples_s": {k: [round(x, 2) for x in v]
                              for k, v in samples.cpu_by_kind.items()},
            "pooled_tail": tail(all_lat),
            **detail,
        }
    finally:
        try:
            from vector_db_spark.caching import release_caches

            release_caches()
        finally:
            _stop(spark)
    if tracer is not None:  # the event log is complete once the session stopped
        out["layers"] = tracer.report(samples, state, wl)
    return out


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, "vector_db_spark", "__init__.py")):
        print(f"no vector_db_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    correct = out["failed"] == 0
    diag = {k: out[k] for k in ("failures", "canary_s", "setup_reps_s", "session_s",
                                "warmup_s", "executor_module", "cpu_tree_procs",
                                "timed_jit_s") if k in out}
    print(json.dumps({"diagnostics": diag, "detail": out.get("detail")}))
    metrics = out["layers"] if args.trace else out["metrics"]
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
