"""Per-layer numbers from Spark's own event log (the traced run).

The benchmark tags every call it makes with the local property ``TAG``
(``<phase>:<tick>:<kind>``, kind one of run / changelog / ivm / read); Spark
copies local properties into each job's properties, so every job, stage and
task can be traced back to the bench call that caused it. SQL operator
metrics are read from ``sparkPlanInfo`` (every plan version AQE posts, since
a re-plan keeps the accumulators of stages that already ran) plus the
accumulable updates of task ends and driver accumulator updates.

An operator's layer follows from the call that ran it and from the operator
itself, and for scans and writes from the table path it touches:

- run call, execution that writes the pages table without scanning it: the
  batch apply. Ledger scans are ``lake`` scan; ``Exchange`` on ``_bucket``
  is the ``lake`` bucket exchange and every other exchange, hash aggregate,
  broadcast and semi join belongs to ``cdc.dedup``; ``ArrowEvalPython`` is
  ``cdc.extract``; the insert command is the ``lake`` delta write.
- run call, execution that scans the pages table: compaction.
- changelog call: files of the pages table read by ``read_changes``.
- read call: shuffle written by the merge-on-read resolve.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

TAG = "perfbench.call"

_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # -> seconds; other types as is


def read_events(ev_dir: str):
    for root, _dirs, files in sorted(os.walk(ev_dir)):
        for name in sorted(files):
            if name.startswith("events_") or name.startswith("local-"):
                with open(os.path.join(root, name)) as fh:
                    for line in fh:
                        yield json.loads(line)


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


class _Exec:
    def __init__(self, eid: int):
        self.id = eid
        self.tag: str | None = None
        self.start = self.end = 0
        self.nodes: dict[int, dict] = {}  # accumulator id -> node facts
        self.scans: set[str] = set()  # Location strings of scan nodes
        self.writes: set[str] = set()  # simpleString of insert commands

    def add_plan(self, plan: dict) -> None:
        for node in _walk(plan):
            name = node["nodeName"]
            text = node.get("simpleString", "")
            if name.startswith("Scan "):
                self.scans.add(node.get("metadata", {}).get("Location", text))
            if "InsertIntoHadoopFsRelationCommand" in name:
                self.writes.add(text)
            for m in node.get("metrics", []):
                self.nodes[m["accumulatorId"]] = {
                    "node": name,
                    "text": text,
                    "loc": node.get("metadata", {}).get("Location", ""),
                    "metric": m["name"],
                    "scale": _SCALE.get(m.get("metricType"), 1.0),
                }


class Trace:
    """Jobs, stages, tasks and SQL executions of one event log, keyed back to
    the bench call tags."""

    def __init__(self, events):
        self.execs: dict[int, _Exec] = {}
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.acc_sum: dict[int, float] = defaultdict(float)
        self.acc_max: dict[int, float] = defaultdict(float)
        self.tasks: list[dict] = []
        self.retried_stages: list[int] = []  # stage ids resubmitted as attempt > 0
        for e in events:
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart"):
                x = self._exec(e["executionId"])
                x.start = e["time"]
                x.add_plan(e["sparkPlanInfo"])
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                self._exec(e["executionId"]).add_plan(e["sparkPlanInfo"])
            elif kind.endswith("SQLExecutionEnd"):
                self._exec(e["executionId"]).end = e["time"]
            elif kind.endswith("DriverAccumUpdates"):
                for acc, val in e["accumUpdates"]:
                    self.acc_sum[acc] += float(val)
                    self.acc_max[acc] = max(self.acc_max[acc], float(val))
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = {
                    "tag": props.get(TAG),
                    "exec": props.get("spark.sql.execution.id"),
                    "start": e["Submission Time"],
                    "end": e["Submission Time"],
                }
                self.jobs[e["Job ID"]] = job
                for s in e["Stage IDs"]:
                    self.stage_job[s] = e["Job ID"]
                if job["exec"] is not None and job["tag"]:
                    self._exec(int(job["exec"])).tag = job["tag"]
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                if info.get("Stage Attempt ID", 0) > 0:
                    self.retried_stages.append(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                for a in info.get("Accumulables", []):
                    if "Update" in a:
                        try:
                            v = float(a["Update"])
                        except (TypeError, ValueError):
                            continue
                        self.acc_sum[a["ID"]] += v
                        self.acc_max[a["ID"]] = max(self.acc_max[a["ID"]], v)
                tm = e.get("Task Metrics") or {}
                self.tasks.append(
                    {
                        "job": self.stage_job.get(e["Stage ID"]),
                        "failed": e["Task End Reason"]["Reason"] != "Success",
                        "gc_ms": tm.get("JVM GC Time", 0),
                    }
                )

    def _exec(self, eid: int) -> _Exec:
        if eid not in self.execs:
            self.execs[eid] = _Exec(eid)
        return self.execs[eid]


def _kind(tag: str | None, phase: str) -> str | None:
    if not tag:
        return None
    p, _tick, kind = tag.split(":")
    return kind if p == phase else None


def _union_ms(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(trace: Trace, phase: str, paths: dict[str, str], calls: list[dict]) -> dict:
    """Attribute the traced ``phase`` to layers.

    ``paths`` maps ``ledger`` / ``pages`` to table roots; ``calls`` are the
    bench's own records of that phase: ``{"tag", "kind", "t0_ms", "t1_ms"}``.
    Returned values are per tick (one tick = one batch and its consumers)
    unless the name says otherwise.
    """
    ledger_data = paths["ledger"].rstrip("/") + "/data/"
    pages_data = paths["pages"].rstrip("/") + "/data/"
    ticks = max(1, sum(1 for c in calls if c["kind"] == "run"))
    n_calls = lambda kind: max(1, sum(1 for c in calls if c["kind"] == kind))  # noqa: E731

    acc = defaultdict(float)  # (layer metric) -> summed value
    peak_agg_mem = 0.0
    compact_ms = 0.0
    compactions = set()
    for x in trace.execs.values():
        kind = _kind(x.tag, phase)
        if kind is None:
            continue
        scans_pages = any(pages_data in s for s in x.scans)
        writes_pages = any(pages_data in w for w in x.writes)
        if kind == "run" and scans_pages:
            compact_ms += max(0, x.end - x.start)
            compactions.add(x.tag)
        apply = kind == "run" and writes_pages and not scans_pages
        for acc_id, n in x.nodes.items():
            v = trace.acc_sum.get(acc_id, 0.0) * n["scale"]
            node, metric, text = n["node"], n["metric"], n["text"]
            if kind == "changelog" and node.startswith("Scan ") and pages_data in n["loc"]:
                if metric == "number of files read":
                    acc["lake.changelog_files_read"] += v
            elif kind == "read" and node == "Exchange" and metric == "shuffle bytes written":
                acc["lake.resolve_shuffle_bytes"] += v
            if not apply:
                continue
            if node.startswith("Scan ") and ledger_data in n["loc"]:
                if metric == "number of files read":
                    acc["lake.scans"] += 1
                key = {
                    "scan time": "lake.scan_s",
                    "size of files read": "lake.scan_bytes",
                    "number of files read": "lake.files_read",
                }.get(metric)
            elif node == "Exchange":
                bucket = "_bucket" in text or "REPARTITION_BY_NUM" in text
                key = {
                    "shuffle bytes written": "lake.bucket_shuffle_bytes" if bucket else "dedup.key_shuffle_bytes",
                    "fetch wait time": None if bucket else "dedup.fetch_wait_s",
                }.get(metric)
            elif node == "HashAggregate":
                key = {
                    "time in aggregation build": "dedup.agg_build_s",
                    "spill size": "dedup.spill_bytes",
                }.get(metric)
                if metric == "peak memory":
                    peak_agg_mem = max(peak_agg_mem, trace.acc_max.get(acc_id, 0.0))
            elif node == "BroadcastExchange":
                key = {
                    "data size": "dedup.broadcast_bytes",
                    "time to build": "dedup.broadcast_build_s",
                }.get(metric)
            elif "Join" in node and "LeftSemi" in text:
                key = "dedup.winners" if metric == "number of output rows" else None
            elif node == "ArrowEvalPython":
                key = {
                    "time to run Python workers": "extract.python_run_s",
                    "data sent to Python workers": "extract.bytes_to_python",
                    "data returned from Python workers": "extract.bytes_from_python",
                    "number of output rows": "extract.rows",
                    "time to start Python workers": "extract.python_start_s",
                }.get(metric)
            elif "InsertIntoHadoopFsRelationCommand" in node and pages_data in text:
                key = {
                    "written output": "lake.write_bytes",
                    "number of written files": "lake.files_written",
                    "task commit time": "lake.task_commit_s",
                }.get(metric)
            else:
                key = None
            if key:
                acc[key] += v

    run_jobs = {j for j, job in trace.jobs.items() if _kind(job["tag"], phase) == "run"}
    ivm_jobs = sum(1 for job in trace.jobs.values() if _kind(job["tag"], phase) == "ivm")
    phase_jobs = {j for j, job in trace.jobs.items() if _kind(job["tag"], phase)}
    run_tasks = sum(1 for t in trace.tasks if t["job"] in run_jobs)
    phase_tasks = [t for t in trace.tasks if t["job"] in phase_jobs]

    gaps = []
    for c in calls:
        if c["kind"] != "run":
            continue
        spans = [(j["start"], j["end"]) for j in trace.jobs.values() if j["tag"] == c["tag"]]
        gaps.append(max(0.0, (c["t1_ms"] - c["t0_ms"]) - _union_ms(spans)) / 1000.0)

    out = {
        k: acc[k] / ticks
        for k in (
            "lake.scan_s", "lake.scan_bytes",
            "dedup.key_shuffle_bytes", "dedup.fetch_wait_s", "dedup.agg_build_s",
            "dedup.spill_bytes", "dedup.broadcast_bytes", "dedup.broadcast_build_s",
            "extract.python_run_s", "extract.bytes_to_python", "extract.bytes_from_python",
            "extract.rows", "extract.python_start_s",
            "lake.bucket_shuffle_bytes", "lake.write_bytes", "lake.files_written",
            "lake.task_commit_s",
        )
    }
    out["lake.files_read"] = acc["lake.files_read"]
    out["lake.scans"] = acc["lake.scans"]
    out["dedup.agg_peak_mem_mb"] = peak_agg_mem / 2**20
    out["dedup.winners"] = acc["dedup.winners"] / ticks
    out["lake.compact_s"] = compact_ms / 1000.0 / max(1, len(compactions))
    out["lake.changelog_files_read"] = acc["lake.changelog_files_read"] / n_calls("changelog")
    out["lake.resolve_shuffle_bytes"] = acc["lake.resolve_shuffle_bytes"] / n_calls("read")
    out["engine.jobs_per_batch"] = len(run_jobs) / ticks
    out["engine.tasks_per_batch"] = run_tasks / ticks
    out["engine.driver_gap_s"] = sum(gaps) / max(1, len(gaps))
    out["ivm.jobs_per_refresh"] = ivm_jobs / n_calls("ivm")
    out["spark.gc_s"] = sum(t["gc_ms"] for t in phase_tasks) / 1000.0 / ticks
    out["spark.task_failures"] = sum(1 for t in phase_tasks if t["failed"])
    out["spark.stage_retries"] = sum(
        1 for s in trace.retried_stages if trace.stage_job.get(s) in phase_jobs
    )
    return out
