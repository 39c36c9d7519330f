"""Per-layer metrics read from outside the program.

Two sources: a streaming query's ``recentProgress`` (trigger duration split,
state-store operators) and Spark's JSON event log, written only in a traced
run (jobs, tasks, executor CPU, Python-worker time, shuffle and spill).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from statistics import mean

STREAM_PHASES = ("latestOffset", "queryPlanning", "walCommit", "commitOffsets", "addBatch")
#: Python-worker timers summed into python_s.  "time to initialize Python
#: workers" is left out: on a reused worker it also counts idle time.
PYTHON_TIMERS = ("time to start Python workers", "time to run Python workers")


def _state_op(p: dict, name: str) -> dict:
    return next((s for s in p.get("stateOperators", []) if s.get("operatorName") == name), {})


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-trigger means over the triggers that read data."""
    ps = [p for p in progress if p.get("numInputRows")]
    out: dict[str, float] = {"stream.triggers": float(len(ps))}
    if not ps:
        return out
    for k in STREAM_PHASES:
        out[f"stream.{k}_ms"] = mean(p["durationMs"].get(k, 0) for p in ps)
    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in ps) / 1000.0
    out["stream.processed_rows_per_s"] = sum(p["numInputRows"] for p in ps) / busy
    dedup = [_state_op(p, "dedupe") for p in ps]
    tally = [_state_op(p, "stateStoreSave") for p in ps]
    out["state.tally.commit_ms"] = mean(s.get("commitTimeMs", 0) for s in tally)
    out["state.dedup.commit_ms"] = mean(s.get("commitTimeMs", 0) for s in dedup)
    out["state.dedup.updates_ms"] = mean(s.get("allUpdatesTimeMs", 0) for s in dedup)
    out["state.partitions"] = float(
        sum(s.get("numStateStoreInstances", 0) for s in (dedup[-1], tally[-1]))
    )
    out["state.dedup.dropped_by_watermark"] = float(
        sum(s.get("numRowsDroppedByWatermark", 0) for s in dedup)
    )
    out["state.dedup.rows_total"] = float(dedup[-1].get("numRowsTotal", 0))
    out["state.dedup.memory_bytes"] = float(dedup[-1].get("memoryUsedBytes", 0))
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every finished application log in ``log_dir``."""
    events = []
    for f in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def job_counters(events: list[dict], label_of) -> dict[str, dict[str, float]]:
    """Sum task counters per label; ``label_of(job_start_event)`` names the
    unit of work (a registry key or a trigger) a job belongs to, or None."""
    stage_label: dict[int, str] = {}
    python_acc: set[int] = set()
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def walk(node: dict) -> None:
        for m in node.get("metrics", []):
            if m.get("name") in PYTHON_TIMERS:
                python_acc.add(m["accumulatorId"])
        for c in node.get("children", []):
            walk(c)

    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            walk(e.get("sparkPlanInfo", {}))
        elif kind == "SparkListenerJobStart":
            label = label_of(e)
            if label is None:
                continue
            out[label]["jobs"] += 1
            for s in e.get("Stage IDs", []):
                stage_label[s] = label
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(e.get("Stage ID"))
            if label is None:
                continue
            c = out[label]
            m = e.get("Task Metrics") or {}
            c["tasks"] += 1
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            c["shuffle_bytes"] += (
                sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            )
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("ID") in python_acc:
                    c["python_s"] += float(a.get("Update", 0)) / 1000.0
    return out
