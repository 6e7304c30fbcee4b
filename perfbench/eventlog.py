"""Fold a Spark event log into per-layer metrics for the measured passes.

The benchmark tags every job of a measured pass with the local property
``perfbench.pass``.  Job-start events carry that property, the ids of
the job's stages and its SQL execution id, which map task-end events and
driver-side accumulator updates to a pass.  Plan-node metrics are keyed
by accumulator id through the plans in ``SQLExecutionStart`` and
``SQLAdaptiveExecutionUpdate`` events; their metric type gives the unit.

The log is written zstd-compressed by Spark and read here with
``pyarrow.CompressedInputStream``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

PASS_PROP = "perfbench.pass"

# plan-node metric name -> layer metric it adds to
NODE_METRICS = {
    "time to start Python workers": "spark.python.start_s",
    "time to initialize Python workers": "spark.python.init_s",
    "time to run Python workers": "spark.python.run_s",
    "data sent to Python workers": "spark.python.bytes_sent",
    "data returned from Python workers": "spark.python.bytes_returned",
    "scan time": "spark.scan.time_s",
    "size of files read": "spark.scan.bytes",
    "shuffle bytes written": "spark.exchange.write_bytes",
    "shuffle write time": "spark.exchange.write_s",
    "fetch wait time": "spark.exchange.fetch_wait_s",
    "time in aggregation build": "spark.hashagg.build_s",
    "spill size": "spark.spill_bytes",
}
PROBES = "avg hash probes per key"
PYTHON_MARKER = "data sent to Python workers"
# metric type -> factor to seconds / plain units; Spark stores an
# "average" metric as value x 10
SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0,
         "average": 0.1}

LAYER_KEYS = sorted(set(NODE_METRICS.values())) + [
    "spark.hashagg.probes_per_key",
    "spark.python.evals",
    "spark.task.count",
    "spark.task.failed",
    "spark.task.run_s",
    "spark.task.cpu_s",
    "spark.task.gc_s",
    "spark.task.max_over_p50",
    "spark.jobs",
]


def log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of application ``app_id`` under ``log_dir``,
    in write order (a rolling log is a directory of numbered parts)."""
    paths = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            files.extend(sorted(parts, key=lambda f: int(
                os.path.basename(f).split("_")[1])))
        else:
            files.append(p)
    return files


def read_events(files: list[str]) -> list[dict]:
    import pyarrow as pa

    events = []
    for f in files:
        with pa.CompressedInputStream(pa.OSFile(f), "zstd") as s:
            data = s.read()
        events.extend(json.loads(line) for line in data.decode().splitlines()
                      if line.strip())
    return events


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for c in node.get("children", []):
        _plan_metrics(c, out)


def fold(events: list[dict]) -> dict[str, dict[str, float]]:
    """Pass label -> layer metrics summed over that pass's jobs.

    ``spark.hashagg.probes_per_key`` is the mean over tasks that
    reported one; ``spark.task.max_over_p50`` is, over the stages that
    ran a Python node, the median of each stage's slowest task run time
    over its median task run time."""
    accs: dict[int, tuple[str, str]] = {}
    stage_pass: dict[int, str] = {}
    exec_pass: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    for e in events:
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_metrics(e["sparkPlanInfo"], accs)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            p = props.get(PASS_PROP)
            if p is None:
                continue
            jobs[p] += 1
            for sid in e["Stage IDs"]:
                stage_pass[sid] = p
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_pass[int(xid)] = p

    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(LAYER_KEYS, 0.0))
    probes: dict[str, list[float]] = defaultdict(list)
    stage_runs: dict[tuple, list[float]] = defaultdict(list)
    python_stages: dict[str, set] = defaultdict(set)

    def add(p: str, acc_id: int, name: str, value: float, stage=None):
        mtype = accs.get(acc_id, (name, "sum"))[1]
        v = float(value) * SCALE.get(mtype, 1.0)
        if name == PROBES:
            if v > 0:
                probes[p].append(v)
        elif name in NODE_METRICS:
            out[p][NODE_METRICS[name]] += v
        if name == PYTHON_MARKER and stage is not None:
            python_stages[p].add(stage)

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            p = stage_pass.get(e["Stage ID"])
            if p is None:
                continue
            stage = (e["Stage ID"], e["Stage Attempt ID"])
            m = out[p]
            m["spark.task.count"] += 1
            if e["Task End Reason"]["Reason"] != "Success":
                m["spark.task.failed"] += 1
            tm = e.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            m["spark.task.run_s"] += run_ms / 1e3
            m["spark.task.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.task.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            stage_runs[stage].append(run_ms)
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    add(p, a["ID"], a["Name"], a["Update"], stage)
        elif kind.endswith("DriverAccumUpdates"):
            p = exec_pass.get(e["executionId"])
            if p is None:
                continue
            for acc_id, value in e["accumUpdates"]:
                name = accs.get(acc_id, ("", "sum"))[0]
                add(p, acc_id, name, value)

    for p, m in out.items():
        m["spark.jobs"] = float(jobs[p])
        m["spark.python.evals"] = float(len(python_stages[p]))
        if probes[p]:
            m["spark.hashagg.probes_per_key"] = statistics.fmean(probes[p])
        skews = [
            max(stage_runs[s]) / statistics.median(stage_runs[s])
            for s in python_stages[p]
            if stage_runs[s] and statistics.median(stage_runs[s]) > 0
        ]
        if skews:
            m["spark.task.max_over_p50"] = statistics.median(skews)
    return dict(out)
