"""Measurement helpers: spans, Spark job-group counters, peak RSS.

``Tracer`` keeps spans in memory as ``(name, start, end, parent, op)``
and writes them out at exit.  A span opened with ``group=True`` runs its
Spark jobs under a job group of its own; the group's jobs, stages,
tasks, executor CPU and shuffle bytes are read after the operation,
outside the timed code.  Executor CPU and shuffle bytes come from
``bench._group_metrics`` / ``bench._store_totals`` (the repository's
status-store walk); job, stage and task counts from the public
``StatusTracker``.

``RssSampler`` sums the resident memory of this process and all of its
descendants (the JVM and its Python workers) from ``/proc`` on one
thread and keeps the peak; ``tree_cpu_s`` sums their CPU time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from bench import _group_metrics, _store_totals


class GroupCounters:
    """Counters of the Spark jobs run under one job group."""

    __slots__ = ("jobs", "stages", "tasks", "cpu_ns", "shuffle_bytes")

    def __init__(self, jobs=0, stages=0, tasks=0, cpu_ns=0,
                 shuffle_bytes=0):
        self.jobs = jobs
        self.stages = stages
        self.tasks = tasks
        self.cpu_ns = cpu_ns
        self.shuffle_bytes = shuffle_bytes

    def __iadd__(self, o: "GroupCounters") -> "GroupCounters":
        for k in self.__slots__:
            setattr(self, k, getattr(self, k) + getattr(o, k))
        return self


def drain_events(spark) -> None:
    """Wait until the status store has taken in every listener event
    sent so far, so that counters of finished jobs are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(spark, group: str) -> GroupCounters:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        ji = tracker.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = tracker.getStageInfo(sid)
            # tasks that ran: a stage skipped for a reused shuffle has
            # numTasks but none completed
            n = si.numCompletedTasks + si.numFailedTasks if si else 0
            if n:
                stages += 1
                tasks += n
    cpu, shuffle = _group_metrics(spark, group)
    return GroupCounters(len(jobs), stages, tasks, cpu, shuffle)


def ungrouped_totals(spark) -> tuple[int, int]:
    """(jobs run outside any job group, executor CPU ns of every stage)
    — whole-store figures for set-up, whose thread pools drop the job
    group."""
    drain_events(spark)
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    return jobs, _store_totals(spark)[0]


class Tracer:
    """In-memory spans.  When ``enabled`` is false only spans opened
    with ``always=True`` are kept (the per-operation spans every run
    needs); layer spans cost nothing."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, op=None, *, group: bool = False,
             always: bool = False):
        if not (self.enabled or always):
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op if op is not None else (
                   parent["op"] if parent else None),
               "parent": parent["id"] if parent else None,
               "id": len(self.spans), "group": None}
        if group:
            self._groups += 1
            rec["group"] = f"pb-{self._groups}"
            sc.setJobGroup(rec["group"], name)
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                up = next((s["group"] for s in reversed(self._stack)
                           if s["group"]), None)
                if up:
                    sc.setJobGroup(up, up)
                else:
                    sc._jsc.clearJobGroup()

    def collect_counters(self, since: int = 0) -> None:
        """Attach job-group counters to spans ``since`` onwards (called
        after an operation, outside its timed span)."""
        drain_events(self.spark)
        for rec in self.spans[since:]:
            if rec["group"] and "counters" not in rec:
                rec["counters"] = group_counters(self.spark, rec["group"])

    def op_counters(self, op_span: dict) -> GroupCounters:
        """Counters of ``op_span`` and every span below it."""
        total = GroupCounters()
        ids = {op_span["id"]}
        for rec in self.spans[op_span["id"]:]:
            if rec["id"] in ids or rec["parent"] in ids:
                ids.add(rec["id"])
                if "counters" in rec:
                    total += rec["counters"]
        return total

    def self_times(self) -> dict[str, float]:
        """Total self time in seconds per span name (a span's duration
        minus its children's)."""
        child = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None and "end" in rec:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out = defaultdict(float)
        for rec in self.spans:
            if "end" in rec:
                out[rec["name"]] += (rec["end"] - rec["start"]
                                     - child[rec["id"]])
        return dict(out)

    def dump(self, path: str) -> None:
        """One JSON line per span, then one with self time per name."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                out = {k: rec.get(k) for k in
                       ("name", "start", "end", "parent", "op")}
                c = rec.get("counters")
                if c is not None:
                    out.update({k: getattr(c, k) for k in c.__slots__})
                fh.write(json.dumps(out) + "\n")
            fh.write(json.dumps({"self_s": self.self_times()}) + "\n")


_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, int, int, int]]:
    """``pid -> (ppid, CPU ticks, vsize, resident pages)`` of every live
    process.  The CPU ticks are user plus system time of the process and
    of its children that have exited and been waited for."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # comm may hold spaces; the fields after ')' are fixed
                f = fh.read().rsplit(")", 1)[1].split()
            out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]),
                           int(f[20]), int(f[21]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def _tree(procs: dict) -> set[int]:
    """This process and every live process below it."""
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, *_) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def descendants() -> set[int]:
    """Pids of every live process below this one."""
    return _tree(_procs()) - {os.getpid()}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree: the Python driver,
    the JVM and the Python workers."""
    procs = _procs()
    return sum(procs[p][1] for p in _tree(procs)) / _HZ


def _tree_rss() -> int:
    procs = _procs()
    total = 0
    for pid in _tree(procs):
        ppid, _, vsize, rss = procs[pid]
        # a child that still shares its parent's address space (the JVM
        # starts helpers with vfork) would count the parent twice
        if procs.get(ppid, (0, 0, None, None))[2:] == (vsize, rss):
            continue
        total += rss * _PAGE
    return total


class RssSampler(threading.Thread):
    """Peak summed RSS of this process tree, sampled every ``period``
    seconds."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, _tree_rss())
            self._stop_ev.wait(self.period)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        self.peak = max(self.peak, _tree_rss())
        return self.peak / 2**20
