"""Outside-in instruments: spans, Spark status-store reads, host counters.

Nothing here is imported by ``versa_spark``; every number is taken from
the benchmark's side of a public call:

* :class:`Tracer` records spans (name, start, end, parent, run id) around
  calls into the program's modules and keeps them in memory until the run
  writes them out.
* :class:`StatusReader` tags the Spark jobs a call submits with a job group
  and reads their stage metrics back from Spark's status store, which is
  populated even with the UI disabled.
* :func:`scan_metrics`, :func:`cached_storage`, :class:`HostCounters` and
  :func:`peak_rss_mb` read the executed plan, the block manager and
  ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

from py4j.protocol import Py4JJavaError

USER_HZ = os.sysconf("SC_CLK_TCK")


# -- spans ---------------------------------------------------------------

class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    leaves job groups alone, so untraced runs pay no tagging cost."""

    def __init__(self, run_id: str, enabled: bool, status=None):
        self.run_id = run_id
        self.enabled = enabled
        self.status = status
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; its parent is the innermost open span.  With a
        status reader attached, Spark jobs submitted inside the span are
        tagged with its job group and their stage metrics land in
        ``span['spark']`` when it closes."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}/{rec['id']}"
        if self.status is not None:
            self.status.set_group(group)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.status is not None:
                rec["spark"] = self.status.group_stats(group)
                self.status.set_group(
                    f"{self.run_id}/{self._stack[-1]['id']}"
                    if self._stack else None)

    def add(self, name: str, start: float, end: float,
            parent: dict | None, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. a stage wall time the
        program reports) under ``parent``."""
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    @staticmethod
    def adopt(parent: dict | None, child: dict | None) -> None:
        """Make ``child`` a child of ``parent``.  Used for lazy layers: a
        layer's materialization re-executes its input layer, so the
        input's own materialization is the part of the parent's span that
        the child accounts for."""
        if parent is not None and child is not None:
            child["parent"] = parent["id"]

    def write(self, path: str, header: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"header": header}) + "\n")
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def median(values) -> float:
    """Median of ``values``; 0 when there are none (the figure's sample
    count, reported beside it, tells the two apart)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the durations of its
    direct children."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


# -- Spark status store ----------------------------------------------------

STAGE_FIELDS = {
    # StageData accessor → (metric key, scale to SI)
    "executorRunTime": ("run_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "memoryBytesSpilled": ("spill_mem_bytes", 1),
    "diskBytesSpilled": ("spill_disk_bytes", 1),
    "numTasks": ("tasks", 1),
}


def empty_stats() -> dict:
    out = {key: 0 for key, _ in STAGE_FIELDS.values()}
    out.update(jobs=0, stages=0, task_skew=0.0, job_list=[])
    return out


class StatusReader:
    """Job-group tagging plus stage-metric reads from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def _flush(self) -> None:
        # stage metrics arrive through the listener bus asynchronously;
        # drain it so the store holds every event of the finished action
        self._jsc.listenerBus().waitUntilEmpty()

    def group_stats(self, group: str) -> dict:
        """Summed stage metrics of every job tagged ``group``.  Also lists
        each job with its submission time (``job_list``) so a caller can
        attribute jobs to the time windows of sub-steps."""
        self._flush()
        store = self._jsc.statusStore()
        out = empty_stats()
        for job_id in sorted(self._tracker.getJobIdsForGroup(group)):
            job = store.job(job_id)
            submitted = job.submissionTime()
            stats = empty_stats()
            seq = job.stageIds()
            for i in range(seq.size()):
                _add_stage(stats, store, seq.apply(i))
            out["jobs"] += 1
            out["job_list"].append({
                "id": job_id,
                "submitted": (submitted.get().getTime() / 1000.0
                              if submitted.isDefined() else None),
                **{k: v for k, v in stats.items() if k != "job_list"}})
            merge_stats(out, stats)
        return out


def _add_stage(stats: dict, store, stage_id: int) -> None:
    try:
        st = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # a stage no longer (or never) in the store
        return
    if str(st.status().toString()) == "SKIPPED":
        return
    for accessor, (key, scale) in STAGE_FIELDS.items():
        stats[key] += getattr(st, accessor)() * scale
    stats["stages"] += 1
    if st.numTasks() > 1:
        stats["task_skew"] = max(stats["task_skew"],
                                 _stage_skew(store, stage_id,
                                             st.attemptId(), st.numTasks()))


def _stage_skew(store, stage_id: int, attempt: int, n: int) -> float:
    """max / median task run time within one stage."""
    tasks = store.taskList(stage_id, attempt, n)
    times = []
    for i in range(tasks.size()):
        m = tasks.apply(i).taskMetrics()
        if m.isDefined():
            times.append(m.get().executorRunTime())
    med = statistics.median(times) if times else 0
    return max(times) / med if med > 0 else 0.0


def merge_stats(into: dict, other: dict) -> dict:
    for key, value in other.items():
        if key == "task_skew":
            into[key] = max(into[key], value)
        elif key == "job_list":
            into[key].extend(value)
        else:
            into[key] += value
    return into


def _add_job(into: dict, job: dict) -> None:
    merge_stats(into, {k: v for k, v in job.items()
                       if k in into and k != "job_list"})
    into["jobs"] += 1
    into["job_list"].append(job)


def attribute_jobs(parent: dict, children: list[dict]) -> None:
    """Move each Spark job recorded on ``parent`` to the child span whose
    [start, end] window holds the job's submission time.  Jobs outside
    every window stay on the parent."""
    stats = parent.get("spark")
    if stats is None:
        return
    rest = empty_stats()
    for child in children:
        child["spark"] = empty_stats()
    for job in stats["job_list"]:
        owner = next((c for c in children if job["submitted"] is not None
                      and c["start"] <= job["submitted"] <= c["end"]), None)
        _add_job(owner["spark"] if owner else rest, job)
    parent["spark"] = rest


def scan_metrics(df) -> dict:
    """Files and rows read by the file scans of ``df``'s last execution,
    from the SQL metrics of its executed physical plan (AQE and query
    stages unwrapped)."""
    files = rows = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("numFiles"):
            files += metrics.apply("numFiles").value()
            rows += metrics.apply("numOutputRows").value()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return {"files": files, "rows": rows}


def python_eval_nodes(df) -> int:
    """Count of ArrowEvalPython / BatchEvalPython nodes in ``df``'s plan."""
    plan = str(df._jdf.queryExecution().executedPlan().toString())
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")


def cached_storage(spark) -> dict:
    """Cached RDD blocks and their bytes (memory + disk), session-wide."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    blocks = nbytes = 0
    for info in infos:
        blocks += info.numCachedPartitions()
        nbytes += info.memSize() + info.diskSize()
    return {"blocks": blocks, "bytes": nbytes}


# -- host ------------------------------------------------------------------

class HostCounters:
    """``/proc/stat`` user / system / steal deltas between two reads."""

    @staticmethod
    def read() -> dict:
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        user, nice, system, _idle, _iowait, irq, softirq, steal = cpu[:8]
        return {"user": user + nice, "system": system + irq + softirq,
                "steal": steal}

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        d = {k: (after[k] - before[k]) / USER_HZ for k in before}
        busy = d["user"] + d["system"]
        return {"user_s": d["user"], "sys_s": d["system"],
                "steal_s": d["steal"],
                "sys_share": d["system"] / busy if busy else 0.0}


def process_cpu_s(pid) -> float:
    """User + system CPU seconds of a process, its threads and its reaped
    children, from ``/proc/<pid>/stat``.  Time stolen by the hypervisor
    or spent by other processes is not in it."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
    return sum(int(x) for x in fields[11:15]) / USER_HZ


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Driver Python plus JVM resident-set high-water marks, in MB."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
