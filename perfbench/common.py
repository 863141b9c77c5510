"""Shared pieces of the workloads: the operation record, statistics,
numpy ground truth and the tenancy canary."""

from __future__ import annotations

import math
import os
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Op:
    """One timed operation: ``run()`` does the work and returns its
    collected result; ``check(result)`` returns a list of failure strings."""

    kind: str
    run: Callable[[], object]
    check: Callable[[object], list[str]] | None = None


@dataclass
class Samples:
    """Per-kind latencies and CPU times of the timed loop."""

    by_kind: dict[str, list[float]] = field(default_factory=dict)
    cpu_by_kind: dict[str, list[float]] = field(default_factory=dict)

    def add(self, kind: str, seconds: float, cpu_s: float) -> None:
        self.by_kind.setdefault(kind, []).append(seconds)
        self.cpu_by_kind.setdefault(kind, []).append(cpu_s)

    def total(self) -> float:
        return sum(sum(v) for v in self.by_kind.values())

    def count(self) -> int:
        return sum(len(v) for v in self.by_kind.values())

    def medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.by_kind.items()}

    def cpu_medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.cpu_by_kind.items()}


_TICK = os.sysconf("SC_CLK_TCK")
# the JVM's JIT compiler threads (names cut to 15 characters by the kernel)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """``(comm, fields from 3 on)`` of a /proc stat file."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def cpu_snapshot(root: int | None = None) -> dict[tuple, int]:
    """CPU clock ticks (user + system) used so far by process ``root``
    (this one by default) and all its live descendants, keyed by process,
    or by thread inside a JVM; reaped children count in their parent. The
    Spark JVM and its Python workers are descendants of the benchmark
    process. JIT compiler threads are keyed apart, under ``"jit"``."""
    root = os.getpid() if root is None else root
    procs: dict[int, tuple[str, list[str]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _stat(f"/proc/{d}/stat")
            except OSError:  # the process has ended
                pass
    kids: dict[int, list[int]] = {}
    for pid, (_, f) in procs.items():
        kids.setdefault(int(f[1]), []).append(pid)  # field 4: ppid
    snap: dict[tuple, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if pid not in procs:
            continue
        comm, f = procs[pid]
        # fields 14-17: utime, stime, cutime, cstime
        if comm != "java":
            snap[("proc", pid)] = sum(int(x) for x in f[11:15])
            continue
        snap[("reaped", pid)] = int(f[13]) + int(f[14])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                tcomm, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            key = "jit" if tcomm.startswith(_JIT_THREADS) else "thread"
            snap[(key, pid, int(tid))] = int(tf[11]) + int(tf[12])
    return snap


def cpu_between(before: dict[tuple, int], after: dict[tuple, int]) -> tuple[float, float]:
    """``(cpu_s, jit_s)`` used between two snapshots. A thread or process
    that started in between counts whole; one that ended in between loses
    only its time since ``before``."""
    sums = {"jit": 0, "other": 0}
    for k, v in after.items():
        sums["jit" if k[0] == "jit" else "other"] += v - before.get(k, 0)
    return sums["other"] / _TICK, sums["jit"] / _TICK


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, or
    ``None`` when the run holds too few samples for one."""
    n = len(values)
    if n < 11:
        return {"percentile": None, "value": None, "n": n}
    p = math.floor(100 * (n - 10) / n)
    v = sorted(values)
    return {"percentile": p, "value": v[max(0, math.ceil(p / 100 * n) - 1)], "n": n}


def exact_topk(corpus: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int):
    """Brute-force top-k with the engine's determinism rules: euclidean in
    float64 (difference form), rounded to 6 dp, ties broken by id.
    Returns ``(ids (q, k), dists (q, k))``."""
    c = corpus.astype(np.float64)
    out_ids, out_d = [], []
    for q in queries.astype(np.float64):
        diff = c - q[None, :]
        d = np.round(np.sqrt(np.einsum("nd,nd->n", diff, diff)), 6)
        order = np.lexsort((ids, d))[:k]
        out_ids.append(ids[order])
        out_d.append(d[order])
    return np.array(out_ids), np.array(out_d)


def true_dist(vec: np.ndarray, q: np.ndarray) -> float:
    diff = vec.astype(np.float64) - q.astype(np.float64)
    return round(float(np.sqrt(diff @ diff)), 6)


def group_hits(rows, qcol: str, idcol: str, dcol: str) -> dict[int, list[tuple]]:
    """Collected result rows → per-query ``[(dist, id), ...]`` sorted."""
    out: dict[int, list[tuple]] = {}
    for r in rows:
        out.setdefault(int(r[qcol]), []).append((float(r[dcol]), int(r[idcol])))
    for v in out.values():
        v.sort()
    return out


def check_exact(hits: dict, gt_ids: np.ndarray, gt_d: np.ndarray, label: str) -> list[str]:
    """Exact results must equal the ground truth id for id."""
    bad = []
    for qi in range(gt_ids.shape[0]):
        got = [i for _, i in hits.get(qi, [])]
        if got != [int(x) for x in gt_ids[qi]]:
            bad.append(f"{label}: query {qi} ids {got[:4]}... != {list(gt_ids[qi][:4])}...")
            continue
        gd = [d for d, _ in hits[qi]]
        if not np.allclose(gd, gt_d[qi], rtol=0, atol=2e-6):
            bad.append(f"{label}: query {qi} distances differ")
    return bad


def recall(hits: dict, gt_ids: np.ndarray) -> float:
    k = gt_ids.shape[1]
    got = sum(
        len({i for _, i in hits.get(qi, [])} & set(int(x) for x in gt_ids[qi]))
        for qi in range(gt_ids.shape[0])
    )
    return got / (k * gt_ids.shape[0])


def canary() -> float:
    """Tenancy canary: the fixed seeded 1024² matmul ×8 that bench.py
    records. A diagnostic, not a metric."""
    a = np.random.default_rng(8).standard_normal((1024, 1024))
    t0 = time.perf_counter()
    acc = a
    for _ in range(8):
        acc = a @ a
    float(acc[0, 0])
    return time.perf_counter() - t0
