"""Parse a Spark 4.1 event log (uncompressed, non-rolling JSON lines) into
per-job-group totals.

The traced run tags every layer call with ``setJobGroup``; every job
carries its group in its ``Properties``. Tasks are attributed to the job
that first listed their stage, and SQL metrics (``number of output rows``,
``time to run Python workers``) to the group of their SQL execution.
Nothing here touches Spark: it reads the file the event logger wrote.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    failed: bool
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_b: int
    spill_b: int
    output_b: int


@dataclass
class Group:
    """Totals of every job whose group id starts with a prefix."""
    jobs: int = 0
    intervals: list = field(default_factory=list)   # (submit_ms, end_ms)
    tasks: list = field(default_factory=list)
    sql_rows: dict = field(default_factory=lambda: defaultdict(int))
    python_ms: float = 0.0

    @property
    def n_tasks(self) -> int:
        return len(self.tasks)

    @property
    def tasks_failed(self) -> int:
        return sum(t.failed for t in self.tasks)

    def total(self, attr: str) -> int:
        return sum(getattr(t, attr) for t in self.tasks)

    def join_rows(self) -> int:
        """Rows emitted by the join operators of the group's queries."""
        return sum(v for k, v in self.sql_rows.items() if k.startswith(_JOINS))

    def busy_s(self, start_ms: float, end_ms: float) -> float:
        """Seconds of [start_ms, end_ms] covered by at least one job."""
        spans = sorted((max(a, start_ms), min(b, end_ms))
                       for a, b in self.intervals)
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return covered / 1000.0

    def stage_task_skew(self) -> float:
        """max / median task duration in the group's busiest stage (the
        stage with the largest summed task time and more than one task)."""
        by_stage = defaultdict(list)
        for t in self.tasks:
            by_stage[t.stage].append(max(t.finish_ms - t.launch_ms, 1))
        cands = [d for d in by_stage.values() if len(d) > 1]
        if not cands:
            return 0.0
        durs = sorted(max(cands, key=sum))
        return durs[-1] / durs[len(durs) // 2]


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        exec_group: dict[str, str] = {}
        acc_meta: dict[int, tuple[str, str, str]] = {}
        acc_exec: dict[int, str] = {}
        acc_sum: dict[int, float] = defaultdict(float)
        self.tasks: list[Task] = []
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    self.jobs[e["Job ID"]] = {"group": group,
                                              "submit": e["Submission Time"],
                                              "end": None}
                    for s in e["Stage IDs"]:
                        stage_job.setdefault(s, e["Job ID"])
                    xid = props.get("spark.sql.execution.id")
                    if xid is not None:
                        exec_group.setdefault(xid, group)
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif ev == "SparkListenerTaskEnd":
                    self._task(e)
                    for a in e["Task Info"].get("Accumulables", []):
                        if a.get("Metadata") == "sql":
                            try:
                                acc_sum[a["ID"]] += float(a["Update"])
                            except (TypeError, ValueError):
                                pass
                elif ev.endswith("SQLExecutionStart") or \
                        ev.endswith("SQLAdaptiveExecutionUpdate"):
                    self._plan(e["sparkPlanInfo"], str(e["executionId"]),
                               acc_meta, acc_exec)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, v in e["accumUpdates"]:
                        acc_sum[acc_id] += float(v)
        self.stage_group = {s: self.jobs[j]["group"] for s, j in stage_job.items()}
        # SQL metrics, keyed by (group, "<node>/<metric>")
        self.sql: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for acc_id, v in acc_sum.items():
            if acc_id not in acc_meta:
                continue
            node, name, mtype = acc_meta[acc_id]
            if mtype == "nsTiming":
                v /= 1e6            # -> ms
            self.sql[exec_group.get(acc_exec[acc_id], "")][f"{node}/{name}"] += v

    def _task(self, e: dict) -> None:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        out = m.get("Output Metrics") or {}
        self.tasks.append(Task(
            stage=e["Stage ID"], launch_ms=info["Launch Time"],
            finish_ms=info["Finish Time"], failed=bool(info.get("Failed")),
            run_ms=m.get("Executor Run Time", 0),
            cpu_ns=m.get("Executor CPU Time", 0),
            gc_ms=m.get("JVM GC Time", 0),
            shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
            spill_b=m.get("Disk Bytes Spilled", 0),
            output_b=out.get("Bytes Written", 0)))

    @classmethod
    def _plan(cls, node: dict, xid: str, meta: dict, owner: dict) -> None:
        for m in node.get("metrics", []):
            meta[m["accumulatorId"]] = (node["nodeName"], m["name"],
                                        m.get("metricType", ""))
            owner[m["accumulatorId"]] = xid
        for c in node.get("children", []):
            cls._plan(c, xid, meta, owner)

    def group(self, prefix: str = "") -> Group:
        """Totals over every job whose group id starts with ``prefix``."""
        g = Group()
        for j in self.jobs.values():
            if j["group"].startswith(prefix):
                g.jobs += 1
                g.intervals.append((j["submit"], j["end"] or j["submit"]))
        g.tasks = [t for t in self.tasks
                   if self.stage_group.get(t.stage, "").startswith(prefix)]
        for grp, metrics in self.sql.items():
            if not grp.startswith(prefix):
                continue
            for k, v in metrics.items():
                node, name = k.split("/", 1)
                if name == "number of output rows":
                    g.sql_rows[node] += int(v)
                elif name == "time to run Python workers":
                    g.python_ms += v
        return g
