"""What Spark jobs cost, read from the driver's status store.

``measure`` runs a block under a fresh job group and sums the group's
``stage_records``.  Both read private JVM APIs, the listener bus and
the status store; no other module in the package does.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# the local properties SparkContext.setJobGroup sets
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


def stage_records(spark, group: str | None = None) -> list[dict]:
    """One record per stage attempt of the jobs in ``group``, or of
    every stage in the store (with ``job`` None), read once the
    listener bus has drained.  A record holds ``job``, ``stage``,
    ``name``, ``tasks`` (that ran: a stage skipped for a reused
    shuffle has none), ``run_ms``, ``cpu_ns``, ``shuffle_read`` and
    ``shuffle_write`` (bytes)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    gw = sc._gateway
    store = jsc.statusStore()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    if group is None:
        seqs = [(None, store.stageList(
            gw.jvm.java.util.ArrayList(), False, False, no_quantiles,
            gw.jvm.java.util.ArrayList(),
        ))]
    else:
        tracker = sc.statusTracker()
        seqs = []
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(jid)
            for sid in sorted(info.stageIds) if info else ():
                try:
                    seqs.append((jid, store.stageData(
                        sid, False, gw.jvm.java.util.ArrayList(), False,
                        no_quantiles,
                    )))
                except Py4JJavaError:  # evicted from the store
                    continue
    records = []
    for jid, seq in seqs:
        it = seq.iterator()
        while it.hasNext():
            st = it.next()
            records.append({
                "job": jid,
                "stage": st.stageId(),
                "name": st.name(),
                "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ns": st.executorCpuTime(),
                "shuffle_read": st.shuffleReadBytes(),
                "shuffle_write": st.shuffleWriteBytes(),
            })
    return records


@contextmanager
def measure(spark, label: str):
    """Run the block under a fresh job group named after ``label`` and
    yield a dict that is filled on exit with ``wall`` (seconds),
    ``jobs``, ``stages`` (stage attempts that ran tasks), ``tasks``,
    ``cpu_ns``, ``shuffle_read``, ``shuffle_write`` and
    ``stages_detail`` (the group's ``stage_records``).  The job group
    and description set before the block are restored on exit.

    Only jobs started on this thread, or on a thread that inherited its
    local properties (``pyspark.inheritable_thread_target``), count."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_KEYS}
    group = f"{label}-{uuid.uuid4().hex[:12]}"
    m: dict = {}
    sc.setJobGroup(group, label)
    t0 = time.perf_counter()
    try:
        yield m
    finally:
        m["wall"] = time.perf_counter() - t0
        for k, v in saved.items():
            sc.setLocalProperty(k, v)  # None removes the property
        recs = stage_records(spark, group)
        m["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        m["stages"] = sum(1 for r in recs if r["tasks"])
        for k in ("tasks", "cpu_ns", "shuffle_read", "shuffle_write"):
            m[k] = sum(r[k] for r in recs)
        m["stages_detail"] = recs
