"""Tracing from outside the program: spans around each layer call, filled in
from Spark's own stores after the pass.

Nothing here runs inside the program. A traced pass tags each row's build
and execute phases with a job group; afterwards the job and stage records
come from the status store (the one ``StatusTracker`` reads), operator
metrics from the AQE final plan of the executed DataFrame, and micro-batch
progress from a ``StreamingQueryListener``. All three work with
``spark.ui.enabled=false``.

Spans (workload → pass → row → build/execute → job → stage, and
build → trigger for streaming rows) are kept in memory and written once.
"""

from __future__ import annotations

import json
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

SCAN_NODES = ("FileSourceScanExec", "BatchScanExec")
JVM_AGG_NODES = ("ObjectHashAggregateExec",)


def is_python_node(cls: str) -> bool:
    return "Python" in cls or "InPandas" in cls or "InArrow" in cls


class _Progress(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.sink.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.streams = spark.streams
        jvm = self.sc._jvm
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(scala_module)
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.listener = _Progress(self.progress)
        self.root = self.span(workload, "workload", time.time(), None)

    # --- recording -------------------------------------------------------

    def span(self, name, kind, start, end, parent=None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name, "kind": kind,
             "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    def begin_pass(self):
        self.progress.clear()
        self.streams.addListener(self.listener)

    def end_pass(self, name, kind, t_start, t_end, wall, rows) -> dict:
        """Record the pass's spans and return its per-layer metrics."""
        # progress events arrive asynchronously; let the last ones land
        time.sleep(0.2)
        self.streams.removeListener(self.listener)
        pspan = self.span(name, "pass", t_start, t_end, self.root, pass_kind=kind)
        for r in rows:
            t_end_row = r["t_build"] + r.get("build_s", 0.0) + r.get("exec_s", 0.0)
            rspan = self.span(r["row"], "row", r["t_build"], t_end_row, pspan)
            if "build_s" in r:
                r["build_span"] = self.span(
                    "build", "build", r["t_build"], r["t_build"] + r["build_s"], rspan
                )
            if "exec_s" in r:
                r["exec_span"] = self.span(
                    "execute", "execute", r["t_exec"], r["t_exec"] + r["exec_s"], rspan
                )
        layers = pass_layers(self, rows)
        covered = sum(r.get("build_s", 0.0) + r.get("exec_s", 0.0) for r in rows)
        layers["trace.coverage"] = covered / wall
        self.spans[self.root]["end"] = t_end
        return layers

    def group(self, gid: str | None):
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(gid, gid)

    # --- reading Spark's stores ------------------------------------------

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def jobs(self, gid: str) -> list[dict]:
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            job = self._json(self.store.job(jid))
            job["stages"] = []
            for sid in job["stageIds"]:
                st = self._json(self.store.lastStageAttempt(sid))
                if st["status"] == "SKIPPED":
                    continue
                job["stages"].append(st)
            out.append(job)
        return out

    def task_skew(self, stage: dict) -> float:
        tasks = self._json(
            self.store.taskList(stage["stageId"], stage["attemptId"], 100000)
        )
        d = [t["duration"] for t in tasks if t.get("duration") is not None]
        if not d:
            return 1.0
        med = statistics.median(d)
        return max(d) / med if med > 0 else 1.0

    def plan_nodes(self, df) -> list[tuple[str, dict]]:
        """(class name, metrics) of every node of the executed plan that a
        layer metric reads, walking through AQE query stages."""
        stack = [df._jdf.queryExecution().executedPlan()]
        out = []
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue  # metrics belong to the exchange it reuses
            if (
                cls in SCAN_NODES
                or cls in JVM_AGG_NODES
                or cls == "AQEShuffleReadExec"
                or is_python_node(cls)
            ):
                metrics = {}
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    metrics[kv._1()] = kv._2().value()
                out.append((cls, metrics))
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
            subs = node.subqueries()
            stack.extend(subs.apply(i) for i in range(subs.size()))
        return out

    def storage_mem_bytes(self) -> int:
        return sum(e["memoryUsed"] for e in self._json(self.store.executorList(True)))

    def jvm_pid(self) -> int:
        return self.sc._jvm.java.lang.ProcessHandle.current().pid()

    def dump(self, path: str, meta: dict):
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


def pass_layers(tracer: Tracer, rows: list[dict]) -> dict:
    """Per-layer metrics of one traced pass; records its job/stage/trigger
    spans as children of the row phase spans."""
    m = {k: 0.0 for k in (
        "build.s", "build.eager_jobs", "build.eager_job_s",
        "engine.exec_s", "engine.jobs", "engine.stages", "engine.tasks",
        "engine.task_s", "engine.shuffle_write_bytes", "engine.shuffle_read_bytes",
        "engine.fetch_wait_ms", "engine.spill_bytes", "engine.peak_exec_mem_bytes",
        "engine.gc_s", "engine.failed_tasks", "engine.aqe_coalesced_partitions",
        "tables.scan_rows", "tables.scan_files", "tables.scan_ms",
        "py.nodes", "py.rows_received", "py.bytes_sent", "py.bytes_received",
        "py.worker_boot_ms", "py.worker_run_ms",
        "jvm.agg_ms", "jvm.sort_fallback_tasks",
    )}
    slowest = None
    build_intervals = []
    for r in rows:
        if "build_span" not in r:
            continue
        m["build.s"] += r["build_s"]
        for phase in ("build", "exec"):
            if f"{phase}_span" not in r:
                continue
            jobs = tracer.jobs(r[f"{phase}_group"])
            for job in jobs:
                js, je = job.get("submissionTime"), job.get("completionTime")
                if js is None or je is None:
                    continue
                jspan = tracer.span(
                    f"job {job['jobId']}", "job", js / 1e3, je / 1e3, r[f"{phase}_span"]
                )
                if phase == "build":
                    m["build.eager_jobs"] += 1
                    build_intervals.append((js / 1e3, je / 1e3))
                else:
                    m["engine.jobs"] += 1
                for st in job["stages"]:
                    ss, se = st.get("submissionTime"), st.get("completionTime")
                    if ss is not None and se is not None:
                        tracer.span(
                            f"stage {st['stageId']}", "stage", ss / 1e3, se / 1e3, jspan,
                            tasks=st["numCompleteTasks"],
                        )
                    if phase != "exec":
                        continue
                    m["engine.stages"] += 1
                    m["engine.tasks"] += st["numCompleteTasks"]
                    m["engine.task_s"] += st["executorRunTime"] / 1e3
                    m["engine.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    m["engine.shuffle_read_bytes"] += st["shuffleReadBytes"]
                    m["engine.fetch_wait_ms"] += st["shuffleFetchWaitTime"]
                    m["engine.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                    m["engine.peak_exec_mem_bytes"] = max(
                        m["engine.peak_exec_mem_bytes"], st["peakExecutionMemory"]
                    )
                    m["engine.gc_s"] += st["jvmGcTime"] / 1e3
                    m["engine.failed_tasks"] += st["numFailedTasks"]
                    if slowest is None or st["executorRunTime"] > slowest["executorRunTime"]:
                        slowest = st
        if "exec_span" in r:
            m["engine.exec_s"] += r["exec_s"]
            for cls, met in tracer.plan_nodes(r["df"]):
                if cls in SCAN_NODES:
                    m["tables.scan_rows"] += met.get("numOutputRows", 0)
                    m["tables.scan_files"] += met.get("numFiles", 0)
                    m["tables.scan_ms"] += met.get("scanTime", 0) + met.get("metadataTime", 0)
                elif cls in JVM_AGG_NODES:
                    m["jvm.agg_ms"] += met.get("aggTime", 0)
                    m["jvm.sort_fallback_tasks"] += met.get("numTasksFallBacked", 0)
                elif cls == "AQEShuffleReadExec":
                    m["engine.aqe_coalesced_partitions"] += met.get("numCoalescedPartitions", 0)
                else:
                    m["py.nodes"] += 1
                    m["py.rows_received"] += met.get("pythonNumRowsReceived", 0)
                    m["py.bytes_sent"] += met.get("pythonDataSent", 0)
                    m["py.bytes_received"] += met.get("pythonDataReceived", 0)
                    m["py.worker_boot_ms"] += met.get("pythonBootTime", 0)
                    m["py.worker_run_ms"] += met.get("pythonTotalTime", 0)
    m["build.eager_job_s"] = union_s(build_intervals)
    m["build.driver_s"] = max(0.0, m["build.s"] - m["build.eager_job_s"])
    m["engine.core_busy"] = m["engine.task_s"] / m["engine.exec_s"] if m["engine.exec_s"] else 0.0
    m["engine.task_skew"] = tracer.task_skew(slowest) if slowest else 1.0
    m.update(stream_layers(tracer, rows))
    return m


def stream_layers(tracer: Tracer, rows: list[dict]) -> dict:
    prog = tracer.progress
    trig = [p["durationMs"].get("triggerExecution", 0) for p in prog]
    states = [op for p in prog for op in p.get("stateOperators", [])]
    last_states = prog[-1].get("stateOperators", []) if prog else []
    stream_rows = [r for r in rows if r.get("streaming") and "build_span" in r]
    for p in prog:
        start = _epoch(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
        # a replay's triggers run inside its row's registry call
        parent = next(
            (r["build_span"] for r in stream_rows
             if r["t_build"] <= start <= r["t_build"] + r["build_s"]),
            None,
        )
        tracer.span(f"trigger {p['batchId']}", "trigger", start, end, parent,
                    input_rows=p.get("numInputRows", 0))
    stream_wall = sum(r["build_s"] + r.get("exec_s", 0.0) for r in stream_rows)
    return {
        "stream.batches": len(prog),
        "stream.batch_p50_ms": statistics.median(trig) if trig else 0.0,
        "stream.trigger_ms": sum(trig),
        "stream.add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in prog),
        "stream.planning_ms": sum(p["durationMs"].get("queryPlanning", 0) for p in prog),
        "stream.wal_commit_ms": sum(p["durationMs"].get("walCommit", 0) for p in prog),
        "stream.commit_ms": sum(op.get("commitTimeMs", 0) for op in states),
        "stream.state_rows": sum(op.get("numRowsTotal", 0) for op in last_states),
        "stream.state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_states),
        "stream.late_rows_dropped": sum(op.get("numRowsDroppedByWatermark", 0) for op in states),
        "stream.outside_trigger_s": max(0.0, stream_wall - sum(trig) / 1e3) if stream_rows else 0.0,
    }


def _epoch(ts: str) -> float:
    """ISO-8601 UTC timestamp of a progress event → epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
