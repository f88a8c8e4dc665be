"""Per-layer attribution of a traced run, read from outside the engine:
Spark's uncompressed event log, the job-description labels the engine
sets, the run's ``_metrics`` tables, and a StreamingQueryListener.

Every job is assigned to exactly one layer by its description prefix;
jobs without a recognised label belong to ``pipeline`` (driver-level work)
and are counted as unlabeled.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

STAGE_LAYERS = ("reassemble", "features", "exact", "candidates", "verify", "cc", "incremental", "streaming")

_STAGE_TO_LAYER = {
    "docs": "reassemble",
    "quarantine": "reassemble",
    "features": "features",
    "exact_groups": "exact",
    "exact_index": "exact",
    "candidates": "candidates",
    "cand_index": "candidates",
    "verified": "verify",
    "edges": "cc",
    "clusters": "cc",
}


def stage_layer(stage: str) -> str | None:
    """Layer of a RunState stage name (as in `stage:<name>` and `_metrics`)."""
    if stage.startswith("incr_"):
        return "incremental"
    return _STAGE_TO_LAYER.get(stage)


def job_layer(desc: str | None) -> str | None:
    """Layer of a job from its description; None means unlabeled."""
    if not desc:
        return None
    if desc.startswith("stage:"):
        return stage_layer(desc.split(":")[1])
    if desc.startswith("cc:"):
        return "cc"
    if desc.startswith(("view:", "fold:")):
        return "streaming"
    return None


class EventLog:
    """Jobs and tasks of one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # by stage id
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    self.jobs[jid] = {
                        "id": jid,
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "desc": desc,
                        "layer": job_layer(desc),
                        "stages": ev.get("Stage IDs", []),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    self.tasks[ev["Stage ID"]].append(
                        {
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "spill_b": m.get("Disk Bytes Spilled", 0),
                            "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        }
                    )
        self.stage_job = stage_job

    @classmethod
    def latest(cls, log_dir: str) -> "EventLog":
        logs = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
        if not logs:
            raise FileNotFoundError(f"no finished event log in {log_dir}")
        return cls(max(logs, key=os.path.getmtime))

    def jobs_in(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs.values() if t0 <= j["start"] <= t1]

    def job_tasks(self, job: dict) -> dict[int, list[dict]]:
        return {s: self.tasks.get(s, []) for s in job["stages"] if self.stage_job.get(s) == job["id"]}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def layer_metrics(log: EventLog, windows: list[tuple[float, float]], threads: int) -> dict[str, float]:
    """Per-iteration means of each layer's job metrics over the given
    (start, end) wall-clock windows, plus driver-level figures."""
    n = len(windows)
    acc: dict[str, float] = defaultdict(float)
    stage_runs: dict[str, dict[int, list[float]]] = {l: {} for l in STAGE_LAYERS}
    for t0, t1 in windows:
        jobs = log.jobs_in(t0, t1)
        by_layer: dict[str, list[dict]] = defaultdict(list)
        for j in jobs:
            by_layer[j["layer"] or "pipeline"].append(j)
        task_s = 0.0
        for layer, js in by_layer.items():
            acc[f"{layer}.jobs"] += len(js)
            ends = [j["end"] or t1 for j in js]
            acc[f"{layer}.span_s"] += max(ends) - min(j["start"] for j in js)
            for j in js:
                for sid, tasks in log.job_tasks(j).items():
                    acc[f"{layer}.busy_s"] += sum(t["run_s"] for t in tasks)
                    acc[f"{layer}.gc_s"] += sum(t["gc_s"] for t in tasks)
                    acc[f"{layer}.shuffle_write_mb"] += sum(t["shuffle_b"] for t in tasks) / 1e6
                    acc[f"{layer}.spill_mb"] += sum(t["spill_b"] for t in tasks) / 1e6
                    task_s += sum(t["dur_s"] for t in tasks)
                    if layer in stage_runs and tasks:
                        stage_runs[layer][sid] = [t["run_s"] for t in tasks]
        wall = t1 - t0
        covered = _union_s([(max(j["start"], t0), min(j["end"] or t1, t1)) for j in jobs])
        acc["pipeline.driver_gap_s"] += wall - covered
        acc["pipeline.slot_util"] += task_s / (wall * threads)
        acc["pipeline.unlabeled_jobs"] += len(by_layer.get("pipeline", ()))
    out = {k: v / n for k, v in acc.items()}
    for layer in STAGE_LAYERS:
        for m in ("span_s", "busy_s", "jobs", "shuffle_write_mb", "spill_mb", "gc_s"):
            out.setdefault(f"{layer}.{m}", 0.0)
        runs = stage_runs[layer]
        skew = 0.0
        if runs:
            biggest = max(runs.values(), key=sum)
            med = statistics.median(biggest)
            skew = max(biggest) / med if med > 0 else 1.0
        out[f"{layer}.task_skew"] = skew
    for k in ("pipeline.driver_gap_s", "pipeline.slot_util", "pipeline.unlabeled_jobs"):
        out.setdefault(k, 0.0)
    return out


def stage_rows(run_dirs: list[str]) -> dict[str, int]:
    """Summed rows_out per stage from the runs' `_metrics` tables."""
    import pyarrow.parquet as pq

    rows: dict[str, int] = defaultdict(int)
    for d in run_dirs:
        if os.path.isdir(f"{d}/_metrics"):
            t = pq.read_table(f"{d}/_metrics", columns=["stage", "rows_out"]).to_pydict()
            for stage, n in zip(t["stage"], t["rows_out"]):
                rows[stage] += n
    return rows


def layer_rows(rows_by_stage: dict[str, int]) -> dict[str, int]:
    rows: dict[str, int] = defaultdict(int)
    for stage, n in rows_by_stage.items():
        layer = stage_layer(stage)
        if layer is not None:
            rows[layer] += n
    return rows


def make_progress_recorder():
    """A StreamingQueryListener that keeps each non-empty micro-batch's
    durationMs map, in arrival order, in its `batches` list."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                self.batches.append(dict(p.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressRecorder()
