"""Measurement from outside the package: layer timers, Spark's status
store, the Spark log and the process table.

Nothing here changes what the package computes. A layer is timed around
the benchmark's call into the layer's public function, from the call
until its result has been fetched to the driver. In a traced op each
layer call runs in its own Spark job group, so the jobs, tasks, shuffle
and spill bytes of the op can be read back from the status store after
the op has finished, together with the row counts Spark's SQL metrics
give for each node of the plans the call executed. A streaming query's
jobs run in the query's own group, and its micro-batch timings come from
its progress reports.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict


class Tracer:
    """Runs layer calls for one op. With ``enabled`` false it only
    builds, fetches and returns; with it true it also records per-layer
    wall time, plan-build time and the job group of each call, so the
    call's Spark jobs and SQL executions can be found after the op."""

    def __init__(self, spark, enabled: bool, tag: str):
        self.spark = spark
        self.enabled = enabled
        self.tag = tag
        self.layer_s: dict[str, float] = defaultdict(float)
        self.build_s = 0.0
        # (layer, job group) of every call; "other" covers the op's
        # driver work between calls
        self.groups: list[tuple[str, str]] = []
        self.progress: dict[str, list[dict]] = defaultdict(list)
        if enabled:
            self.executions_at_start = sql_store(spark).executionsCount()
            self._group("other")

    def _group(self, layer: str) -> None:
        # the group doubles as the job description, which Spark copies
        # into the description of each SQL execution the call starts
        group = f"{self.tag}/{layer}"
        self.groups.append((layer, group))
        self.spark.sparkContext.setJobGroup(group, group)

    def timed(self, layer: str, fn):
        """``fn()`` timed as one call of ``layer``."""
        if self.enabled:
            self._group(layer)
        t0 = time.perf_counter()
        out = fn()
        if self.enabled:
            self.layer_s[layer] += time.perf_counter() - t0
            self._group("other")
        return out

    def call(self, layer: str, build, persist: bool = False):
        """``build()`` returns a DataFrame; returns ``(df, pandas_result)``.
        With ``persist`` the frame is cached before the fetch, so later
        layers read the fetched rows instead of recomputing them."""
        if self.enabled:
            self._group(layer)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        if persist:
            df = df.persist()
        pdf = df.toPandas()
        t2 = time.perf_counter()
        if self.enabled:
            self.layer_s[layer] += t2 - t0
            self.build_s += t1 - t0
            self._group("other")
        return df, pdf

    def stream(self, layer: str, start) -> None:
        """``start()`` starts a streaming query that drains what has
        landed (``availableNow``); waits for it to end. Its jobs run in
        the query's own job group, named by its run id, and its
        micro-batch progress is kept under ``layer``."""
        t0 = time.perf_counter()
        query = start()
        query.awaitTermination()
        if self.enabled:
            self.layer_s[layer] += time.perf_counter() - t0
            self.groups.append((layer, str(query.runId)))
            self.progress[layer].extend(query.recentProgress)

    def close(self) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup("idle", "idle")

    def plan_nodes(self, *layers: str) -> dict[str, list["PlanNode"]]:
        """The plan nodes of every SQL execution the traced calls of
        ``layers`` ran, per layer, with their row counts (Spark's
        ``number of output rows`` SQL metric)."""
        out: dict[str, list[PlanNode]] = defaultdict(list)
        if not self.enabled:
            return out
        spark = self.spark
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        store = sql_store(spark)
        count = store.executionsCount()
        # executions are listed oldest first; old ones may have been
        # dropped since the op started, so look a little further back
        window = max(0, count - self.executions_at_start) + 50
        offset = max(0, count - window)
        for ex in _seq(store.executionsList(int(offset), int(count - offset))):
            desc = ex.description() or ""
            for layer, group in self.groups:
                if layer in layers and (desc == group or f"runId = {group}" in desc):
                    out[layer].extend(_nodes(store, ex.executionId()))
                    break
        return out


class PlanNode:
    """One node of an executed physical plan."""

    def __init__(self, name: str, desc: str, rows: int):
        self.name = name
        self.desc = desc
        self.rows = rows
        self.children: list[PlanNode] = []


def sql_store(spark):
    """Spark's store of SQL executions (the SQL tab's data)."""
    return spark._jsparkSession.sharedState().statusStore()


def _seq(scala_seq) -> list:
    """The items of a Scala sequence, fetched by index (iterating it
    through the gateway costs a round trip and an exception per item)."""
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _nodes(store, execution_id) -> list[PlanNode]:
    # an ended execution's metric values are aggregated asynchronously,
    # and are null until then
    deadline = time.monotonic() + 10
    while True:
        values = store.execution(execution_id).get().metricValues()
        if values is not None or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    graph = store.planGraph(execution_id)
    by_id = {}
    for node in _seq(graph.allNodes()):
        rows = 0
        for m in _seq(node.metrics()):
            if values is not None and m.name() == "number of output rows":
                value = values.get(m.accumulatorId())
                if value.isDefined():
                    rows = int(value.get().replace(",", ""))
        by_id[node.id()] = PlanNode(node.name(), node.desc(), rows)
    for edge in _seq(graph.edges()):
        parent, child = by_id.get(edge.toId()), by_id.get(edge.fromId())
        if parent is not None and child is not None:
            parent.children.append(child)
    return list(by_id.values())


def job_stats(spark, groups: list[tuple[str, str]], op_s: float) -> dict[str, float]:
    """Jobs, tasks, failed tasks, shuffle-write and spill bytes, and the
    time covered by at least one job, over every job of ``groups``."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tasks = failed = 0
    shuffle = spill = 0
    intervals = []
    seen_stages = set()
    for _layer, group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            jd = store.job(job_id)
            jobs += 1
            tasks += jd.numCompletedTasks()
            failed += jd.numFailedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage never ran an attempt
                    continue
                shuffle += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    busy_ms = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            busy_ms += b - a
            end = b
        elif b > end:
            busy_ms += b - end
            end = b
    busy = busy_ms / 1000.0
    return {
        "spark.jobs_per_op": jobs,
        "spark.tasks_per_op": tasks,
        "spark.failed_tasks": failed,
        "spark.shuffle_bytes_per_op": shuffle,
        "spark.spill_bytes_per_op": spill,
        "spark.job_busy_s": busy,
        "driver.idle_s": max(0.0, op_s - busy),
    }


class LogCounter:
    """Counts whole-stage codegen fallbacks that Spark logged since the
    last call (the log4j file appender set up by ``run.py``)."""

    NEEDLE = "Whole-stage codegen disabled"

    def __init__(self, path: str):
        self.path = path
        self.offset = self._size()

    def _size(self) -> int:
        try:
            return os.path.getsize(self.path)
        except OSError:
            return 0

    def take(self) -> int:
        try:
            with open(self.path, "rb") as fh:
                fh.seek(self.offset)
                chunk = fh.read()
        except OSError:
            return 0
        self.offset += len(chunk)
        return chunk.count(self.NEEDLE.encode())


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssPeak:
    """Peak RSS of a process tree: the kernel's high-water marks are
    reset at ``start`` where permitted, and read (and sampled) after."""

    def __init__(self, root: int):
        self.root = root
        self.sampled_kb = 0

    def start(self) -> None:
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
                    fh.write("5")
            except OSError:
                pass
        self.sampled_kb = 0

    def sample(self) -> None:
        now = sum(_status_kb(p, "VmRSS") for p in process_tree(self.root))
        self.sampled_kb = max(self.sampled_kb, now)

    def peak_mb(self) -> float:
        hwm = sum(_status_kb(p, "VmHWM") for p in process_tree(self.root))
        return max(hwm, self.sampled_kb) / 1024.0
