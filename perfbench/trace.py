"""Spans around the benchmark's calls into the engine, and the Spark
counters behind them.

A span records name, start, end, parent and run id, and is held in
memory until ``write``. In a traced run each span also sets its own
Spark job group, so the status REST API (on only in that run) can
attribute jobs, stages and SQL-node metrics to the span that caused
them. Untraced runs record the spans' times only.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager

#: Stage counters summed per span: REST field -> reported name.
STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}

#: SQL-plan node metrics kept per span, summed per node name.
SQL_METRICS = (
    "number of output rows",
    "size of files read",
    "sort time",
    "spill size",
    "shuffle bytes written",
    "data sent to Python workers",
)

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def _metric_total(text: str) -> float:
    """Total of a SQL metric string: '1,234', or 'total (min, med, max
    ...)\\n10.0 MiB (...)' for size/time metrics (bytes or ms)."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def span_s(span: dict) -> float:
    """A closed span's duration in seconds."""
    return span["end"] - span["start"]


class Tracer:
    def __init__(self, spark, run_id: str, traced: bool):
        self.spark = spark
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.traced and self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(sp["id"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent["id"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str, within: set[str]) -> list[float]:
        """Durations of the spans called ``name`` whose id is in ``within``."""
        return [span_s(s) for s in self.spans if s["name"] == name and s["id"] in within]

    def descendants(self, root_ids: set[str]) -> set[str]:
        """Ids of the given spans and every span under them."""
        out = set(root_ids)
        for s in self.spans:  # parents precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    # -- Spark status API (traced runs) ----------------------------------

    def _get(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def collect_spark(self, extra_groups: dict[str, str] | None = None) -> None:
        """Attach stage counters, task skew and SQL-node metrics to each
        span by job group. ``extra_groups`` maps job groups the engine
        sets itself (a streaming query's run id) to a span id."""
        groups = {s["id"]: s for s in self.spans}
        for g, sid in (extra_groups or {}).items():
            groups[g] = groups[sid]
        stages = {(st["stageId"], st["attemptId"]): st for st in self._get("stages")}
        by_stage: dict[int, list] = {}
        for key, st in stages.items():
            by_stage.setdefault(key[0], []).append(st)
        job_span: dict[int, dict] = {}
        for job in self._get("jobs"):
            sp = groups.get(job.get("jobGroup"))
            if sp is None:
                continue
            job_span[job["jobId"]] = sp
            c = sp.setdefault("spark", {"jobs": 0, "failed_jobs": 0, "_stages": set()})
            c["jobs"] += 1
            c["failed_jobs"] += job.get("status") == "FAILED"
            for sid in job.get("stageIds", []):
                for st in by_stage.get(sid, []):
                    if st.get("status") in ("COMPLETE", "FAILED"):
                        c["_stages"].add((st["stageId"], st["attemptId"]))
        for sp in self.spans:
            c = sp.get("spark")
            if c is None:
                continue
            keys = c.pop("_stages")
            for f, name in STAGE_FIELDS.items():
                c[name] = sum(stages[k].get(f, 0) for k in keys)
            c["stages"] = len(keys)
            c["task_skew"] = self._task_skew(keys, stages)
        try:
            executions = self._get("sql?details=true&planDescription=false&length=100000")
        except OSError:
            executions = []
        for ex in executions:
            jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            sp = next((job_span[j] for j in jobs if j in job_span), None)
            if sp is None:
                continue
            for node in ex.get("nodes", []):
                sql = sp.setdefault("sql", {}).setdefault(node["nodeName"], {})
                for m in node.get("metrics", []):
                    if m["name"] in SQL_METRICS:
                        sql[m["name"]] = sql.get(m["name"], 0.0) + _metric_total(m["value"])

    @staticmethod
    def sql_total(span: dict, metric: str) -> float:
        """A SQL-node metric summed over every node of the span."""
        return sum(m.get(metric, 0.0) for m in span.get("sql", {}).values())

    def _task_skew(self, keys, stages) -> float:
        """Slowest over median task run time, in the span's busiest stage."""
        if not keys:
            return 0.0
        sid, att = max(keys, key=lambda k: stages[k].get("executorRunTime", 0))
        q = self._get(f"stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return float(mx / med) if med > 0 else 1.0

    def spark_layer(self, span_ids: set[str]) -> dict[str, float]:
        """Engine counters summed over the given spans."""
        tot: dict[str, float] = {}
        for s in self.spans:
            if s["id"] in span_ids:
                for k, v in s.get("spark", {}).items():
                    if k != "task_skew":
                        tot[k] = tot.get(k, 0) + v
        return {
            "spark.jobs": tot.get("jobs", 0),
            "spark.tasks": tot.get("tasks", 0),
            "spark.executor_run_s": tot.get("executor_run_ms", 0) / 1e3,
            "spark.executor_cpu_s": tot.get("executor_cpu_ns", 0) / 1e9,
            "spark.gc_s": tot.get("gc_ms", 0) / 1e3,
            "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
            "spark.spill_bytes": tot.get("spill_memory_bytes", 0) + tot.get("spill_disk_bytes", 0),
            "spark.failed_tasks": tot.get("failed_tasks", 0),
        }

    def write(self, path: str, extra: dict) -> None:
        """Spans with self time (duration minus the children's)."""
        child: dict[str, float] = {}
        for s in self.spans:
            if s["parent"]:
                child[s["parent"]] = child.get(s["parent"], 0.0) + span_s(s)
        out = [
            {**s, "duration_s": span_s(s), "self_s": span_s(s) - child.get(s["id"], 0.0)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": out, **extra}, f, indent=1, default=float)
