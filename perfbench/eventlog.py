"""Per-stage engine metrics and scan file counts from Spark's event log.

The traced run starts its session with ``spark.eventLog.enabled`` (through
``get_spark(extra_conf=...)``); after ``spark.stop()`` the log is complete.
:func:`load` reads it once; :func:`stage_metrics` folds its stage and task
records into the ``stage.*`` per-layer metrics and :func:`files_read`
sums the file scans' ``number of files read`` SQL metric.
"""

from __future__ import annotations

import json
import os
import statistics

#: accumulable names (Spark internal task metrics) summed per stage
_SUMS = {
    "executor_run_ms": ("internal.metrics.executorRunTime",),
    "shuffle_read_bytes": (
        "internal.metrics.shuffle.read.remoteBytesRead",
        "internal.metrics.shuffle.read.localBytesRead",
    ),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten",),
    "spill_bytes": (
        "internal.metrics.memoryBytesSpilled",
        "internal.metrics.diskBytesSpilled",
    ),
    "gc_ms": ("internal.metrics.jvmGCTime",),
}

#: SQL metric of the Arrow/Python evaluation operators (mapInPandas,
#: pandas UDFs), where the log carries it; recorded in milliseconds
PYTHON_RUN_TIME = "time to run Python workers"
#: driver-side SQL metric of a file scan, posted after partition pruning
FILES_READ = "number of files read"


def _log_files(log_dir: str) -> list[str]:
    """Plain logs and the parts of rolled ``eventlog_v2_*`` directories,
    in order."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, fn) for fn in sorted(files)
                if not fn.startswith(("appstatus", ".")) and not fn.endswith(".crc")]
    return sorted(out)


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == name)
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def load(log_dir: str) -> dict:
    """Stages (submission time in wall-clock seconds, metric sums, task run
    times) and per-SQL-execution file-scan counts of the logs in
    ``log_dir``."""
    stages: dict = {}
    task_ms: dict = {}
    exec_time: dict = {}
    files_ids: set = set()
    files_updates: list = []  # (execution id, accumulator id, files)
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    tm = ev.get("Task Metrics") or {}
                    task_ms.setdefault(key, []).append(tm.get("Executor Run Time", 0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    accs = info.get("Accumulables", [])
                    acc = {a.get("Name", ""): a for a in accs}
                    stage = {
                        metric: sum(float(acc[n]["Value"]) for n in names if n in acc)
                        for metric, names in _SUMS.items()
                    }
                    stage["python_ms"] = sum(float(a.get("Value") or 0) for a in accs
                                             if a.get("Name") == PYTHON_RUN_TIME)
                    stage["submit_s"] = info.get("Submission Time", 0) / 1e3
                    stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = stage
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    if "time" in ev:
                        exec_time[ev["executionId"]] = ev["time"] / 1e3
                    _plan_metric_ids(ev.get("sparkPlanInfo", {}), FILES_READ, files_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    files_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
    for key, stage in stages.items():
        stage["task_ms"] = task_ms.get(key, [])
    scans = [(exec_time.get(e), v) for e, a, v in files_updates if a in files_ids]
    return {"stages": list(stages.values()), "scans": scans}


def _inside(t, windows) -> bool:
    return t is not None and any(lo <= t <= hi for lo, hi in windows)


def stage_metrics(log: dict, windows, exclude=(), n_ops: int = 1) -> dict:
    """Per-operation stage sums.

    Only stages submitted inside one of ``windows`` — (start, end) wall
    clock seconds of the traced operations — and outside every
    ``exclude`` window count, so set-up, warm-up, checks and the traced
    run's own added work stay out; sums are divided by ``n_ops``."""
    stages = [s for s in log["stages"]
              if _inside(s["submit_s"], windows) and not _inside(s["submit_s"], exclude)]
    skews = [
        max(s["task_ms"]) / statistics.median(s["task_ms"])
        for s in stages
        if len(s["task_ms"]) >= 4 and statistics.median(s["task_ms"]) > 0
    ]
    n = max(n_ops, 1)
    total = {m: sum(s[m] for s in stages) / n for m in (*_SUMS, "python_ms")}
    return {
        "stage.count": len(stages) / n,
        "stage.executor_run_s": total["executor_run_ms"] / 1e3,
        "stage.shuffle_read_bytes": total["shuffle_read_bytes"],
        "stage.shuffle_write_bytes": total["shuffle_write_bytes"],
        "stage.spill_bytes": total["spill_bytes"],
        "stage.gc_s": total["gc_ms"] / 1e3,
        # the worst stage of the run, over stages with >= 4 tasks
        "stage.task_skew": max(skews) if skews else 1.0,
        "stage.python_arrow_s": total["python_ms"] / 1e3,
    }


def files_read(log: dict, windows) -> tuple[float, int]:
    """(files read, file scans) over the SQL executions started inside
    ``windows``."""
    picked = [v for t, v in log["scans"] if _inside(t, windows)]
    return float(sum(picked)), len(picked)
