"""In-memory span tracer for the traced run.

A span records name, start, end, parent and run id. Each span runs under its
own Spark job group, so the jobs, stages and SQL executions it caused can be
read back afterwards from the in-process status stores (no web UI). Self
time is a span's duration minus the part of it its child spans cover.

With tracing off every call is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-zµ]+)?")


def parse_metric(text: str) -> float:
    """SQL metric display string → number in base units (s or bytes). Task
    aggregated metrics read "total (min, med, max ...)\\n<total> (...)"."""
    lines = [ln for ln in str(text).strip().splitlines() if ln.strip()]
    if not lines:
        return 0.0
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.inline_s = 0.0  # span enter/exit cost, paid inside the timed run
        self.finish_s = 0.0  # metric read-back, paid after it

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid, "name": name, "run_id": self.run_id,
                "parent": parent["id"] if parent else None,
                "group": f"{self.run_id}:{sid}:{name}", **attrs,
            }
            self.spans.append(rec)
        sc.setJobGroup(rec["group"], name, False)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        with self._lock:  # a span may be entered from another thread
            self.inline_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1]["group"], stack[-1]["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.inline_s += time.perf_counter() - rec["end"]

    # -- read-back (after the timed work) ------------------------------------
    def finish(self) -> None:
        """Attach self time and Spark job/stage/SQL metrics to every span."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        for rec in self.spans:
            rec["dur"] = rec["end"] - rec["start"]
        for rec in self.spans:
            kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"])
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in kids:
                s, e = max(s, rec["start"]), min(e, rec["end"])
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            rec["self"] = rec["dur"] - covered
        executions = self._sql_executions()
        for rec in self.spans:
            rec.update(self._spark_metrics(rec["group"], executions))
        self.finish_s += time.perf_counter() - t0

    def _spark_metrics(self, group: str, executions: list) -> dict:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
        out = {
            "jobs": len(jobs), "stages": 0, "run_s": 0.0, "cpu_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_write_records": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "input_records": 0, "failed_tasks": 0, "task_max_over_median": 1.0,
            "python_s": 0.0, "python_bytes": 0.0, "exchanges": 0, "node_rows": {},
        }
        heaviest = None
        for jid in jobs:
            info = sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue
                if str(sd.status().toString()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["run_s"] += sd.executorRunTime() / 1000.0
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_write_records"] += sd.shuffleWriteRecords()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_records"] += sd.inputRecords()
                out["failed_tasks"] += sd.numFailedTasks()
                if heaviest is None or sd.executorRunTime() > heaviest.executorRunTime():
                    heaviest = sd
        if heaviest is not None and heaviest.numCompleteTasks() > 1:
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = store.taskSummary(heaviest.stageId(), heaviest.attemptId(), q)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                out["task_max_over_median"] = mx / med if med > 0 else 1.0
        job_set = set(jobs)
        for ex_jobs, nodes in executions:
            if not (ex_jobs & job_set):
                continue
            for node_name, metrics in nodes:
                if node_name in ("Exchange", "BroadcastExchange"):
                    out["exchanges"] += 1
                for mname, value in metrics:
                    if mname == "time to run Python workers":
                        out["python_s"] += value
                    elif mname in ("data sent to Python workers", "data returned from Python workers"):
                        out["python_bytes"] += value
                    elif mname == "number of output rows":
                        out["node_rows"][node_name] = out["node_rows"].get(node_name, 0) + value
        return out

    def _sql_executions(self) -> list:
        """[(job ids, [(node name, [(metric name, value)])])] per SQL
        execution, each accumulator counted once."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        result = []
        it = sq.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            job_ids = set()
            jit = ex.jobs().keySet().iterator()
            while jit.hasNext():
                job_ids.add(int(jit.next()))
            values = sq.executionMetrics(eid)
            seen = set()
            nodes = []
            nit = sq.planGraph(eid).allNodes().iterator()
            while nit.hasNext():
                node = nit.next()
                ms = []
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    acc = m.accumulatorId()
                    v = values.get(acc)
                    if acc in seen or not v.isDefined():
                        continue
                    seen.add(acc)
                    ms.append((m.name(), parse_metric(v.get())))
                nodes.append((node.name(), ms))
            result.append((job_ids, nodes))
        return result

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "inline_s": self.inline_s, "finish_s": self.finish_s,
                       "spans": self.spans}, f, indent=1)
