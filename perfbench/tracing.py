"""The traced run: spans in the benchmark process around the program's
public functions, folded with Spark's event log into per-layer metrics.

Each span sets the Spark job group ``pb<span id>`` while it is open, so a
job is attributed to the innermost span that was open when it started:
the eager probes a call runs while it builds its plan. The lazy work of a
returned DataFrame runs later, under the span of the operation that
collects it; engine counters are therefore also reported per operation
kind (``spark.<kind>.*``).
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

# (layer, module, qualified name) of every wrapped public function
TARGETS = [
    ("storage", "vector_db_spark.storage", "NodeTable.df"),
    ("storage", "vector_db_spark.storage", "NodeTable.init"),
    ("storage", "vector_db_spark.storage", "NodeTable.append_with_ids"),
    ("storage", "vector_db_spark.storage", "NodeTable.delete"),
    ("storage", "vector_db_spark.storage", "NodeTable.filter_by_metadata"),
    ("api", "vector_db_spark.api", "VectorDBService.insert_documents"),
    ("api", "vector_db_spark.api", "VectorDBService.search"),
    ("api", "vector_db_spark.api", "VectorDBService.delete_documents"),
    ("api", "vector_db_spark.api", "VectorDBService.refresh_index"),
    ("api", "vector_db_spark.api", "VectorDBService.build_index"),
    ("knn", "vector_db_spark.operators.knn", "knn_join"),
    ("knn", "vector_db_spark.operators.knn", "adaptive_filtered_knn"),
    ("ivf", "vector_db_spark.operators.ivf", "assign_to_centroids"),
    ("ivf", "vector_db_spark.operators.ivf", "IVFIndex.build"),
    ("ivf", "vector_db_spark.operators.ivf", "IVFIndex.search"),
    ("ivf", "vector_db_spark.operators.ivf", "IVFIndex.add"),
    ("ivf", "vector_db_spark.operators.ivf", "IVFIndex.delete"),
    ("ivf", "vector_db_spark.operators.ivf", "IVFIndex.refresh"),
    ("ivfpq", "vector_db_spark.operators.ivfpq", "IVFPQIndex.build"),
    ("ivfpq", "vector_db_spark.operators.ivfpq", "IVFPQIndex.search"),
    ("kmeans", "vector_db_spark.operators.kmeans", "collect_sample"),
    ("kmeans", "vector_db_spark.operators.kmeans", "kmeans_fit"),
    ("io", "vector_db_spark.io", "write_clustered"),
]
# operation kinds of all workloads; the per-kind engine metrics are
# reported for every kind (0 where a workload has no such operation)
KINDS = ("exact", "ivf", "ivfpq", "filtered", "refresh", "insert", "delete", "search",
         "filtered_search")
KIND_MEASURES = ("jobs", "executor_cpu_s", "sched_gap_s", "python_run_s")
ENGINE_MEASURES = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                   "sched_gap_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                   "python_start_s", "python_init_s", "python_run_s")
NAMED = ("embedding.python_run_s", "embedding.rows_per_doc",
         "storage.bytes_written_per_user_byte", "knn.batch_kernel.python_run_s",
         "ivfpq.adc_kernel.python_run_s", "ivf.search.partitions_read",
         "ivf.search.rows_scanned_per_result", "ivfpq.codes_scanned_per_query",
         "io.write_clustered.bytes", "io.write_clustered.files")


# scans are told apart by their output columns, because plan strings
# abbreviate long file locations: the index corpus is the only scan with
# both ``embedding`` and ``cluster_id``, the PQ codes scan has ``codes``
_CORPUS_SCAN = r"embedding#.*cluster_id#|cluster_id#.*embedding#"
_CODES_SCAN = r"codes#"


def metric_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [("session.get_spark.s", "s", "lower")]
    for layer, _, q in TARGETS:
        out += [(f"{layer}.{q}.s", "s", "lower"), (f"{layer}.{q}.jobs", "count", "lower")]
    units = {"jobs": "count", "stages": "count", "tasks": "count"}
    for m in ENGINE_MEASURES:
        out.append((f"spark.{m}", units.get(m, "bytes" if m.endswith("bytes") else "s"),
                    "lower"))
    for k in KINDS:
        for m in KIND_MEASURES:
            out.append((f"spark.{k}.{m}", units.get(m, "s"), "lower"))
    named_units = {"rows_per_doc": "ratio", "bytes_written_per_user_byte": "ratio",
                   "partitions_read": "count", "rows_scanned_per_result": "ratio",
                   "codes_scanned_per_query": "count", "bytes": "bytes", "files": "count"}
    for n in NAMED:
        out.append((n, named_units.get(n.rsplit(".", 1)[1], "s"), "lower"))
    out += [("trace.reconcile_max_err", "fraction", "lower"),
            ("trace.p50_geomean_s", "s", "lower"),
            ("trace.cpu_p50_geomean_s", "s", "lower"),
            ("trace.spans", "count", "lower")]
    return out


class Tracer:
    def __init__(self, spark, eventlog_dir: str):
        self.sc = spark.sparkContext
        self.eventlog_dir = eventlog_dir
        self.phase = "setup"
        self.spans: dict[int, dict] = {}
        self.ops: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.main_thread()

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int | None = None):
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "parent": parent, "op": op, "phase": self.phase,
               "t0": time.time(), "t1": None}
        self.spans[sid] = rec
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{sid}")
        st.append(sid)
        try:
            yield sid
        finally:
            st.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec["t1"] = time.time()

    @contextmanager
    def op(self, kind: str):
        """Root span of one timed operation; the caller stores the number
        of result rows in the yielded dict."""
        oid = next(self._ids)
        info = {"kind": kind, "rows": 0}
        self.ops[oid] = info
        with self.span(f"op.{kind}", op=oid) as sid:
            info["span"] = sid
            yield info

    def record(self, name: str, t0: float, t1: float) -> None:
        """A span measured by the caller (epoch-relative perf_counter pair)."""
        off = time.time() - time.perf_counter()
        self.spans[next(self._ids)] = {"name": name, "parent": None, "op": None,
                                       "phase": "setup", "t0": t0 + off, "t1": t1 + off}

    def install(self) -> None:
        """Wrap every target at each place it is looked up: the defining
        class, or every ``vector_db_spark`` module holding the function."""
        import sys

        for layer, mod, qual in TARGETS:
            m = importlib.import_module(mod)
            name = f"{layer}.{qual}"
            if "." in qual:
                cls_name, attr = qual.split(".")
                cls = getattr(m, cls_name)
                raw = cls.__dict__[attr]
                if isinstance(raw, classmethod):
                    setattr(cls, attr, classmethod(self._wrap(name, raw.__func__)))
                else:
                    setattr(cls, attr, self._wrap(name, raw))
                continue
            orig = getattr(m, qual)
            wrapped = self._wrap(name, orig)
            for other in list(sys.modules.values()):
                if (getattr(other, "__name__", "") or "").startswith("vector_db_spark") and \
                        getattr(other, qual, None) is orig:
                    setattr(other, qual, wrapped)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- report ----------------------------------------------------------------

    def report(self, samples, state, wl) -> dict:
        """Per-layer metrics; call after the session has stopped, so the
        event log is complete."""
        log = _fold(self.eventlog_dir)
        spans = self.spans
        children: dict[int, list[int]] = {}
        for sid, s in spans.items():
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(sid)

        def self_time(sid):
            s = spans[sid]
            iv = [(spans[c]["t0"], spans[c]["t1"]) for c in children.get(sid, [])]
            return max(0.0, (s["t1"] - s["t0"]) - _union(iv, s["t0"], s["t1"]))

        jobs_of = {}
        for jid, j in log["jobs"].items():
            g = j.get("group") or ""
            if g.startswith("pb") and g[2:].isdigit():
                jobs_of.setdefault(int(g[2:]), []).append(jid)

        out: dict[str, tuple[float, str]] = {}
        names = metric_names()
        unit = {n: u for n, u, _ in names}
        for n, u, _ in names:
            out[n] = (0.0, u)
        out["session.get_spark.s"] = (
            sum(s["t1"] - s["t0"] for s in spans.values() if s["name"] == "session.get_spark"),
            "s")

        # functions: per-call means over the timed loop, else over set-up
        for layer, _, qual in TARGETS:
            name = f"{layer}.{qual}"
            calls = [i for i, s in spans.items() if s["name"] == name and s["phase"] == "timed"]
            if not calls:
                calls = [i for i, s in spans.items() if s["name"] == name and s["phase"] == "setup"]
            if calls:
                out[f"{name}.s"] = (statistics.fmean(self_time(i) for i in calls), "s")
                out[f"{name}.jobs"] = (
                    statistics.fmean(len(jobs_of.get(i, [])) for i in calls), "count")

        # engine counters per timed operation
        op_spans: dict[int, list[int]] = {}
        for sid, s in spans.items():
            if s["op"] is not None:
                op_spans.setdefault(s["op"], []).append(sid)
        per_kind: dict[str, list[dict]] = {}
        per_op = []
        for oid, info in self.ops.items():
            root = spans[info["span"]]
            jids = [j for sid in op_spans.get(oid, []) for j in jobs_of.get(sid, [])]
            e = _engine(log, jids, root["t0"], root["t1"])
            e["wall"] = root["t1"] - root["t0"]
            e["self_sum"] = sum(self_time(sid) for sid in op_spans.get(oid, []))
            e["kind"] = info["kind"]
            e["rows"] = info["rows"]
            e["fns"] = {spans[sid]["name"] for sid in op_spans.get(oid, [])}
            per_kind.setdefault(info["kind"], []).append(e)
            per_op.append(e)
        if per_op:
            for m in ENGINE_MEASURES:
                out[f"spark.{m}"] = (statistics.fmean(e[m] for e in per_op), unit[f"spark.{m}"])
            out["trace.reconcile_max_err"] = (
                max(abs(e["self_sum"] - e["wall"]) / e["wall"] for e in per_op), "fraction")
        for k, es in per_kind.items():
            if k in KINDS:
                for m in KIND_MEASURES:
                    out[f"spark.{k}.{m}"] = (statistics.fmean(e[m] for e in es),
                                             unit[f"spark.{k}.{m}"])

        def calls_of(fn):
            return sum(1 for s in spans.values() if s["name"] == fn and s["phase"] == "timed")

        def node_sum(es, node, metric, desc=None):
            return sum(v for e in es for (n, mname, d), v in e["sql"].items()
                       if n == node and mname == metric and (desc is None or re.search(desc, d)))

        n_knn = calls_of("knn.knn_join")
        if n_knn:
            out["knn.batch_kernel.python_run_s"] = (
                node_sum(per_op, "MapInPandas", "time to run Python workers", r"^(?!.*codes)")
                / 1000 / n_knn, "s")
        n_pq = calls_of("ivfpq.IVFPQIndex.search")
        pq_ops = [e for e in per_op if "ivfpq.IVFPQIndex.search" in e["fns"]]
        if n_pq:
            out["ivfpq.adc_kernel.python_run_s"] = (
                node_sum(per_op, "MapInPandas", "time to run Python workers", "codes")
                / 1000 / n_pq, "s")
            queries = sum(e["rows"] for e in pq_ops) / wl.SIZES["top_k"]
            if queries:
                out["ivfpq.codes_scanned_per_query"] = (
                    node_sum(pq_ops, "Scan parquet", "number of output rows", _CODES_SCAN)
                    / queries, "count")
        ivf_ops = [e for e in per_op if "ivf.IVFIndex.search" in e["fns"]]
        n_ivf = calls_of("ivf.IVFIndex.search")
        if n_ivf:
            out["ivf.search.partitions_read"] = (
                node_sum(ivf_ops, "Scan parquet", "number of partitions read", _CORPUS_SCAN)
                / n_ivf, "count")
            rows = sum(e["rows"] for e in ivf_ops)
            if rows:
                out["ivf.search.rows_scanned_per_result"] = (
                    node_sum(ivf_ops, "Scan parquet", "number of output rows", _CORPUS_SCAN)
                    / rows, "ratio")
        n_emb = calls_of("api.VectorDBService.insert_documents") + \
            calls_of("api.VectorDBService.search")
        if n_emb:
            out["embedding.python_run_s"] = (
                node_sum(per_op, "ArrowEvalPython", "time to run Python workers")
                / 1000 / n_emb, "s")
        inserts = [e for e in per_op if e["kind"] == "insert"]
        log_bytes = getattr(state, "insert_bytes", [])
        if inserts and log_bytes:
            docs = len(inserts) * wl.SIZES["insert_batch"]
            out["embedding.rows_per_doc"] = (
                node_sum(inserts, "ArrowEvalPython", "number of output rows") / docs, "ratio")
            written = sum(e["out_bytes"] for e in per_op
                          if e["kind"] in ("insert", "delete", "refresh"))
            out["storage.bytes_written_per_user_byte"] = (
                written / sum(log_bytes[-len(inserts):]), "ratio")
        wc = [i for i, s in spans.items() if s["name"] == "io.write_clustered"]
        wc = [i for i in wc if spans[i]["phase"] == "timed"] or \
            [i for i in wc if spans[i]["phase"] == "setup"]
        if wc:
            es = [_engine(log, jobs_of.get(i, []), spans[i]["t0"], spans[i]["t1"])
                  for i in wc]
            out["io.write_clustered.bytes"] = (
                statistics.fmean(e["out_bytes"] for e in es), "bytes")
            out["io.write_clustered.files"] = (
                statistics.fmean(sum(v for (n, m, _), v in e["sql"].items()
                                     if m == "number of written files") for e in es), "count")
        med = samples.medians()
        if med:
            out["trace.p50_geomean_s"] = (
                statistics.geometric_mean(med.values()), "s")
            out["trace.cpu_p50_geomean_s"] = (
                statistics.geometric_mean(samples.cpu_medians().values()), "s")
        out["trace.spans"] = (float(len(spans)), "count")
        return out


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _engine(log, jids, t0: float, t1: float) -> dict:
    """Engine counters of the given jobs; stage spans give the scheduling
    gap (wall minus the union of stage spans)."""
    e = dict.fromkeys(ENGINE_MEASURES, 0.0)
    e["out_bytes"] = 0.0
    e["sql"] = {}
    e["jobs"] = float(len(jids))
    spans = []
    seen_exec = set()
    for jid in jids:
        j = log["jobs"][jid]
        for sid in j["stages"]:
            st = log["stages"].get(sid)
            if st is None or st.get("owner") != jid:
                continue
            e["stages"] += 1
            e["tasks"] += st["tasks"]
            a = st["acc"]
            e["executor_run_s"] += a.get("internal.metrics.executorRunTime", 0) / 1e3
            e["executor_cpu_s"] += a.get("internal.metrics.executorCpuTime", 0) / 1e9
            e["shuffle_read_bytes"] += a.get("internal.metrics.shuffle.read.remoteBytesRead", 0) \
                + a.get("internal.metrics.shuffle.read.localBytesRead", 0)
            e["shuffle_write_bytes"] += a.get("internal.metrics.shuffle.write.bytesWritten", 0)
            e["spill_bytes"] += a.get("internal.metrics.memoryBytesSpilled", 0) \
                + a.get("internal.metrics.diskBytesSpilled", 0)
            e["out_bytes"] += a.get("internal.metrics.output.bytesWritten", 0)
            for key, v in st["sql"].items():
                e["sql"][key] = e["sql"].get(key, 0) + v
            if st["t0"] and st["t1"]:
                spans.append((st["t0"] / 1e3, st["t1"] / 1e3))
        ex = j.get("exec")
        if ex is not None and ex not in seen_exec and log["exec_owner"].get(ex) == jid:
            seen_exec.add(ex)
            for key, v in log["exec_sql"].get(ex, {}).items():
                e["sql"][key] = e["sql"].get(key, 0) + v
    for key, v in e["sql"].items():
        name = key[1]
        if name == "time to start Python workers":
            e["python_start_s"] += v / 1e3
        elif name == "time to initialize Python workers":
            e["python_init_s"] += v / 1e3
        elif name == "time to run Python workers":
            e["python_run_s"] += v / 1e3
    e["sched_gap_s"] = max(0.0, (t1 - t0) - _union(spans, t0, t1))
    return e


def _fold(directory: str) -> dict:
    """Read the (uncompressed, non-rolling) event log into jobs, stages
    and SQL metrics keyed by (plan node, metric name, node description)."""
    files = [f for f in os.listdir(directory) if not f.startswith(".")]
    acc: dict[int, tuple[str, str, str]] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_acc: list[tuple[int, list]] = []
    accum_updates: list[tuple[int, list]] = []

    def walk(p):
        for m in p.get("metrics", []):
            acc[m["accumulatorId"]] = (p["nodeName"].strip(), m["name"], p.get("simpleString", ""))
        for c in p.get("children", []):
            walk(c)

    for f in files:
        with open(os.path.join(directory, f)) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = {"group": props.get("spark.jobGroup.id"),
                                         "exec": int(ex) if ex is not None else None,
                                         "stages": e["Stage IDs"]}
                    for sid in e["Stage IDs"]:
                        stages.setdefault(sid, {"owner": e["Job ID"], "tasks": 0, "acc": {},
                                                "sql": {}, "t0": None, "t1": None})
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], {"owner": None, "tasks": 0, "acc": {},
                                                            "sql": {}, "t0": None, "t1": None})
                    st["tasks"] += si.get("Number of Tasks", 0)
                    st["t0"] = si.get("Submission Time")
                    st["t1"] = si.get("Completion Time")
                    stage_acc.append((si["Stage ID"], si.get("Accumulables", [])))
                elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    walk(e["sparkPlanInfo"])
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    accum_updates.append((e["executionId"], e["accumUpdates"]))
    for sid, accs in stage_acc:
        st = stages[sid]
        for a in accs:
            try:
                v = float(a.get("Value", 0))
            except (TypeError, ValueError):
                continue
            if a["ID"] in acc:
                key = acc[a["ID"]]
                st["sql"][key] = st["sql"].get(key, 0) + v
            else:
                st["acc"][a["Name"]] = st["acc"].get(a["Name"], 0) + v
    exec_owner: dict[int, int] = {}
    for jid in sorted(jobs):
        ex = jobs[jid]["exec"]
        if ex is not None:
            exec_owner.setdefault(ex, jid)
    exec_sql: dict[int, dict] = {}
    for ex, updates in accum_updates:
        d = exec_sql.setdefault(ex, {})
        for aid, v in updates:
            if aid in acc:
                d[acc[aid]] = d.get(acc[aid], 0) + float(v)
    return {"jobs": jobs, "stages": stages, "exec_owner": exec_owner, "exec_sql": exec_sql}
