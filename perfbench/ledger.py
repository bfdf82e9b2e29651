"""The ``spark`` layer: per-operation costs read from Spark's REST API.

Every traced operation runs under ``setJobGroup(op_id)``. After the loop
the benchmark reads ``{uiWebUrl}/api/v1`` once over loopback with stdlib
``urllib`` (jobs, stages with their tasks, SQL executions) and attributes
each job, stage and SQL node to the operation whose group it carries.
"""

from __future__ import annotations

import datetime as _dt
import json
import time
import urllib.request

# SQL plan nodes whose "number of output rows" counts rows that crossed
# the Python boundary: the Python DataSource scan, and the Arrow/pandas
# UDF operators
_SCAN_NODE = "BatchScan"
_UDF_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
              "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "PythonMapInArrow")


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return _dt.datetime.strptime(
        s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def _rows(metrics: list[dict]) -> int:
    for m in metrics:
        if m.get("name") == "number of output rows":
            return int(str(m.get("value", "0")).replace(",", "") or 0)
    return 0


class Ledger:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled(self, groups: set[str], timeout: float = 15.0) -> list[dict]:
        """The jobs of ``groups``, once the status store has recorded
        every one of them as finished (its listener runs asynchronously
        to the action that started them)."""
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if all(j.get("completionTime") for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def collect(self, ops: dict[str, tuple[float, float]]) -> dict[str, dict]:
        """Per-operation spark.* metrics for ``ops`` (op id -> wall start, end).

        Each op's entry also carries ``"_jobs"``: ``(job id, submitted,
        completed)`` triples, used to add the jobs as child spans."""
        jobs = self._settled(set(ops))
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get("/stages?details=true&withSummaries=false")
        }
        by_stage: dict[int, list[dict]] = {}
        for (sid, _), s in stages.items():
            by_stage.setdefault(sid, []).append(s)
        sqls = self._get("/sql?details=true&planDescription=false&length=100000")
        out = {}
        for op, (t0, t1) in ops.items():
            mine = sorted((j for j in jobs if j["jobGroup"] == op),
                          key=lambda j: j["submissionTime"])
            ids = {j["jobId"] for j in mine}
            m = dict.fromkeys(
                ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "gc_s", "task_wait_s", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "python_scan_rows",
                 "python_udf_rows"), 0)
            m["jobs"] = len(mine)
            spans = []
            for j in mine:
                m["tasks"] += j["numTasks"] - j["numSkippedTasks"]
                spans.append((j["jobId"], _ts(j["submissionTime"]),
                              _ts(j.get("completionTime")) or t1))
                for sid in j["stageIds"]:
                    for s in by_stage.get(sid, ()):
                        if s["status"] == "SKIPPED":
                            continue
                        m["stages"] += 1
                        m["executor_run_s"] += s["executorRunTime"] / 1e3
                        m["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                        m["gc_s"] += s["jvmGcTime"] / 1e3
                        m["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                        m["shuffle_read_bytes"] += s["shuffleReadBytes"]
                        m["spill_bytes"] += (s["memoryBytesSpilled"]
                                             + s["diskBytesSpilled"])
                        sub = _ts(s.get("submissionTime"))
                        for t in (s.get("tasks") or {}).values():
                            launch = _ts(t.get("launchTime"))
                            if sub is not None and launch is not None:
                                m["task_wait_s"] += max(0.0, launch - sub)
            for q in sqls:
                if ids & set(q.get("successJobIds", []) + q.get("failedJobIds", [])):
                    for node in q.get("nodes", ()):
                        name = node.get("nodeName", "")
                        if name.startswith(_SCAN_NODE):
                            m["python_scan_rows"] += _rows(node.get("metrics", ()))
                        elif name.startswith(_UDF_NODES):
                            m["python_udf_rows"] += _rows(node.get("metrics", ()))
            if spans:
                m["driver_plan_s"] = max(0.0, spans[0][1] - t0)
                gap, reach = 0.0, spans[0][2]
                for _, s0, s1 in spans[1:]:
                    gap += max(0.0, s0 - reach)
                    reach = max(reach, s1)
                m["driver_gap_s"] = gap
                m["driver_tail_s"] = max(0.0, t1 - reach)
            else:
                m["driver_plan_s"], m["driver_gap_s"], m["driver_tail_s"] = t1 - t0, 0.0, 0.0
            m["_jobs"] = spans
            out[op] = m
        return out
