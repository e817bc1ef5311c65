"""Spark's own counters, read from outside the package.

* Stage data per job group: ``statusStore()`` jobs and stage attempts
  (executor run time, shuffle, spill, GC, failed tasks, task times).
* Catalyst phase times: a ``QueryExecutionListener`` registered over
  py4j records ``tracker().phases()`` of every action that succeeds.
* ``MapInPandas`` SQL metrics: read from the executed plan of a query
  the benchmark ran on that frame's own ``queryExecution``.
* Peak resident memory of the driver JVM and its Python workers: ``/proc``.
"""

from __future__ import annotations

import os
import statistics
import threading

MB = 1e6


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _scala_map(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def drain(spark) -> None:
    """Wait until every listener event posted so far is processed."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_stats(spark, groups: set[str]) -> dict:
    """Counters summed over the jobs whose job group is in ``groups``."""
    drain(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    n_jobs = 0
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() in groups:
            n_jobs += 1
            stage_ids.update(_seq(job.stageIds()))
    out = {
        "jobs": n_jobs, "stages": 0, "tasks": 0, "core_s": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0, "gc_s": 0.0, "task_retries": 0, "task_skew": 1.0,
    }
    longest = None
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["core_s"] += st.executorRunTime() / 1e3
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["task_retries"] += st.numFailedTasks() + st.attemptId()
        if longest is None or st.executorRunTime() > longest[0]:
            longest = (st.executorRunTime(), sid, st.attemptId())
    if longest is not None:
        tasks = _seq(store.taskList(longest[1], longest[2], 100000))
        times = [t.duration().get() for t in tasks if t.duration().isDefined()]
        if times and statistics.median(times) > 0:
            out["task_skew"] = max(times) / statistics.median(times)
    return out


def rdd_storage_mb(spark) -> float:
    """Cached or checkpointed RDD bytes the session still holds."""
    drain(spark)
    rdds = _seq(spark.sparkContext._jsc.sc().statusStore().rddList(True))
    return sum(r.memoryUsed() + r.diskUsed() for r in rdds) / MB


class CatalystListener:
    """py4j implementation of ``QueryExecutionListener``: collects the
    Catalyst phase times of every successful action."""

    def __init__(self):
        self.events: list[tuple[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.events.append((func_name, catalyst_phases(qe)))

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        pass

    def take(self, spark) -> float:
        """Catalyst seconds of the actions since the last call."""
        drain(spark)
        total = sum(s for _, s in self.events)
        self.events.clear()
        return total

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_catalyst_listener(spark) -> CatalystListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = CatalystListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def catalyst_phases(qe) -> float:
    return sum(p.durationMs() for p in _scala_map(qe.tracker().phases()).values()) / 1e3


def _plan_nodes(plan):
    yield plan
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        kids = _seq(plan.children())
    for k in kids:
        yield from _plan_nodes(k)


def map_in_pandas_metrics(qe) -> dict:
    """Summed SQL metrics of the ``MapInPandas`` nodes of an executed
    plan (timings in ms, data in bytes)."""
    out: dict[str, int] = {}
    for node in _plan_nodes(qe.executedPlan()):
        if node.nodeName() == "MapInPandas":
            for name, metric in _scala_map(node.metrics()).items():
                out[name] = out.get(name, 0) + metric.value()
    return out


def _descendants(root: int) -> dict[int, int]:
    """pid -> parent pid of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [(c, root) for c in children.get(root, [])]
    while todo:
        pid, ppid = todo.pop()
        out[pid] = ppid
        todo.extend((c, pid) for c in children.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _mem_mb(pid: int, comm: str) -> float:
    """Resident MB of one process.  Python workers are forked from one
    daemon and share its pages, so their RSS would count those pages
    once per worker: they are read as PSS, which splits shared pages
    among the processes sharing them.  The JVM shares next to nothing,
    and its RSS (cheap to read) is used as is."""
    try:
        if comm == "java":
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / MB
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024 / MB
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


class RssSampler:
    """Highest summed resident memory of this process's descendants (the
    driver JVM and the Python workers it forks) while the ``with`` block
    runs; see ``_mem_mb``."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()

    def _sample(self) -> None:
        procs = _descendants(os.getpid())
        comms = {pid: _comm(pid) for pid in procs}
        # a JVM child still named java is a fork about to exec a shell
        # command: it shares the JVM's pages and would count them twice
        total = sum(
            _mem_mb(pid, comm) for pid, comm in comms.items()
            if not (comm == "java" and comms.get(procs[pid]) == "java")
        )
        self.peak_mb = max(self.peak_mb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
