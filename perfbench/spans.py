"""Per-layer spans for the traced run.

A span is opened around a call into one sparklead layer. Each span gets a
fresh Spark job group on its thread, so every job the call launches is
tagged with it; once the job is over, the span's numbers are read from
Spark's in-process status store (job -> stages -> task metrics). Reading
the store launches no Spark jobs (``Tracer.read_jobs`` proves it).

Spans are opened by wrapping public functions from this file (``patch``)
and by ``span`` blocks in the benchmark's own job code; no library file is
touched. They are kept in memory and written as one JSON file at the end.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

FIELDS = (
    "wall_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "core_busy",
)
MB = float(1 << 20)
# span ids, and so job group names, are unique in the process: a group
# name reused by a later Tracer would pick up the earlier tracer's jobs
_ids = itertools.count()


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main: list[dict] = []  # open spans of the thread that opened the first one
        self._main_thread = threading.get_ident()
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = self._main if threading.get_ident() == self._main_thread else []
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        rec = {"name": name, "id": next(_ids), "parent": parent["id"] if parent else None}
        rec["group"] = f"perfbench-{rec['id']}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(rec)

    def patch(self, owner, attr: str, name):
        """Wrap ``owner.attr`` in a span; ``name`` is a string or a function
        of the call's arguments. ``restore`` undoes every patch."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with self.span(name(*a, **kw) if callable(name) else name):
                return fn(*a, **kw)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # ------------------------------------------------------------ reading
    def _drain_listener(self) -> None:
        # the status store is filled asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_metrics(self) -> dict:
        """Per-span totals, children included. A stage counts once, for the
        first (lowest-id) job that ran it; skipped stages count nothing."""
        self._drain_listener()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs_of = {s["group"]: sorted(tracker.getJobIdsForGroup(s["group"])) for s in self.spans}
        owner: dict[int, int] = {}
        for jobs in jobs_of.values():
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    owner[st] = min(owner.get(st, j), j)
        per_job: dict[int, list] = {}
        for st, j in owner.items():
            try:
                d = store.lastStageAttempt(st)
            except Exception:  # evicted from the store (beyond spark.ui.retainedStages)
                continue
            if str(d.status().toString()) == "SKIPPED":
                continue
            per_job.setdefault(j, []).append((
                d.numCompleteTasks(), d.executorRunTime() / 1e3, d.executorCpuTime() / 1e9,
                d.jvmGcTime() / 1e3, d.shuffleWriteBytes() / MB, d.shuffleReadBytes() / MB,
                d.diskBytesSpilled() / MB,
            ))
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)

        def subtree_jobs(s):
            out = list(jobs_of[s["group"]])
            for c in children.get(s["id"], ()):
                out += subtree_jobs(c)
            return out

        result = {}
        for s in self.spans:
            jobs = subtree_jobs(s)
            stages = [row for j in jobs for row in per_job.get(j, ())]
            wall = s["end"] - s["start"]
            tot = [sum(r[k] for r in stages) for k in range(7)]
            m = dict(zip(
                ("tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"),
                tot,
            ))
            m.update(wall_s=wall, jobs=len(jobs), stages=len(stages))
            m["core_busy"] = m["exec_run_s"] / (wall * self.cores) if wall > 0 else 0.0
            rec = result.setdefault(s["name"], {k: 0.0 for k in FIELDS} | {"calls": 0})
            for k in FIELDS:
                rec[k] += m[k]
            rec["calls"] += 1
        for rec in result.values():  # core_busy of the summed spans
            rec["core_busy"] = rec["exec_run_s"] / (rec["wall_s"] * self.cores) if rec["wall_s"] else 0.0
        return result

    def read_jobs(self) -> int:
        """Jobs launched while reading the status store: counted in a fresh
        job group opened around one full read (expected: 0)."""
        group = f"perfbench-read-{next(_ids)}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, "status store read")
        try:
            self.stage_metrics()
            self._drain_listener()
            return len(self.sc.statusTracker().getJobIdsForGroup(group))
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def python_udf_rows(self) -> int:
        """Rows out of the scalar pandas-UDF plan nodes (``ArrowEvalPython``),
        summed over every SQL execution of the traced spans (from the SQL
        status store's execution metrics)."""
        self._drain_listener()
        jobs = {j for s in self.spans for j in self.sc.statusTracker().getJobIdsForGroup(s["group"])}
        sql_store = self.sc._jvm.org.apache.spark.sql.SparkSession.active().sharedState().statusStore()
        execs = sql_store.executionsList()
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = ex.jobs().keys().toSeq()
            if not any(ex_jobs.apply(k) in jobs for k in range(ex_jobs.size())):
                continue
            values = sql_store.executionMetrics(ex.executionId())
            nodes = sql_store.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not str(node.name()).startswith("ArrowEvalPython"):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    met = metrics.apply(k)
                    if str(met.name()) in ("number of output rows", "number of output rows from Python"):
                        v = values.get(met.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).split("\n")[-1].split(" ")[0].replace(",", ""))
        return total
