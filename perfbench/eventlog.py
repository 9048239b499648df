"""Read Spark's own event log (uncompressed, non-rolling JSON lines).

The benchmark tags every phase with a job group; this module maps job
groups to their jobs, stages, tasks and SQL executions, and resolves each
execution's final (adaptive) physical plan with its SQL metric values.
Nothing here runs inside the engine: it only reads files Spark wrote."""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, float]
    children: list["Node"] = field(default_factory=list)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def first_output_rows(self) -> float:
        """Rows out of the nearest node at or below this one that counts
        them (Project and InputAdapter carry no metrics)."""
        for n in self.walk():
            if "number of output rows" in n.metrics:
                return n.metrics["number of output rows"]
        return 0.0


@dataclass
class App:
    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, dict] = field(default_factory=dict)
    task_run_ms: dict[int, list[int]] = field(default_factory=dict)
    plans: dict[int, dict] = field(default_factory=dict)
    accums: dict[int, float] = field(default_factory=dict)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _load_app(path: str) -> App:
    app = App()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                app.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "sql": props.get("spark.sql.execution.id"),
                    "stages": e.get("Stage IDs", []),
                }
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                acc = {a["Name"]: _num(a.get("Value")) for a in si.get("Accumulables", [])}
                for a in si.get("Accumulables", []):
                    app.accums[a["ID"]] = max(app.accums.get(a["ID"], 0.0), _num(a.get("Value")))
                app.stages[si["Stage ID"]] = {
                    "tasks": si.get("Number of Tasks", 0),
                    "acc": acc,
                }
            elif kind == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics") or {}
                app.task_run_ms.setdefault(e["Stage ID"], []).append(
                    int(tm.get("Executor Run Time", 0))
                )
            elif kind in (
                _SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                app.plans[e["executionId"]] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e.get("accumUpdates", []):
                    app.accums[acc_id] = max(app.accums.get(acc_id, 0.0), _num(value))
    return app


def _resolve(info: dict, accums: dict[int, float]) -> Node:
    metrics = {}
    for m in info.get("metrics", []):
        v = accums.get(m["accumulatorId"], 0.0)
        if m.get("metricType") == "nsTiming":
            v /= 1e6  # report every timing in ms, like Spark's "timing" type
        metrics[m["name"]] = v
    return Node(
        info.get("nodeName", ""),
        info.get("simpleString", ""),
        metrics,
        [_resolve(c, accums) for c in info.get("children", [])],
    )


class EventLog:
    """All applications (one per SparkContext) found in one directory."""

    def __init__(self, directory: str):
        self.apps = [
            _load_app(os.path.join(directory, f))
            for f in sorted(os.listdir(directory))
            if not f.endswith(".inprogress")
        ]

    def _jobs(self, group: str):
        for app in self.apps:
            for job in app.jobs.values():
                if job["group"] == group:
                    yield app, job

    def exec_metrics(self, group: str) -> dict[str, float]:
        """Stage totals over every job of ``group``; stages skipped because
        their shuffle output was reused never complete and add nothing."""
        tot = dict.fromkeys(
            ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes"), 0.0,
        )
        heaviest: tuple[float, list[int]] = (-1.0, [])
        for app, job in self._jobs(group):
            tot["jobs"] += 1
            for sid in job["stages"]:
                st = app.stages.get(sid)
                if st is None:
                    continue
                a = st["acc"]
                run_ms = a.get("internal.metrics.executorRunTime", 0.0)
                tot["tasks"] += st["tasks"]
                tot["run_s"] += run_ms / 1e3
                tot["cpu_s"] += a.get("internal.metrics.executorCpuTime", 0.0) / 1e9
                tot["gc_s"] += a.get("internal.metrics.jvmGCTime", 0.0) / 1e3
                tot["shuffle_write_bytes"] += a.get("internal.metrics.shuffle.write.bytesWritten", 0.0)
                tot["shuffle_read_bytes"] += a.get(
                    "internal.metrics.shuffle.read.localBytesRead", 0.0
                ) + a.get("internal.metrics.shuffle.read.remoteBytesRead", 0.0)
                tot["spill_bytes"] += a.get("internal.metrics.diskBytesSpilled", 0.0)
                if run_ms > heaviest[0]:
                    heaviest = (run_ms, app.task_run_ms.get(sid, []))
        runs = [r for r in heaviest[1] if r > 0]
        tot["task_skew"] = max(runs) / statistics.median(runs) if runs else 1.0
        return tot

    def plans(self, group: str) -> list[Node]:
        """Final physical plans of the SQL executions that ran jobs in
        ``group``, with metric values resolved."""
        out, seen = [], set()
        for app, job in self._jobs(group):
            if job["sql"] is None:
                continue
            key = (id(app), int(job["sql"]))
            if key in seen or int(job["sql"]) not in app.plans:
                continue
            seen.add(key)
            out.append(_resolve(app.plans[int(job["sql"])], app.accums))
        return out
