"""Reduce a Spark event log to per-phase and per-module counts.

The benchmark tags every operation phase with a job group
``<workload>:<op>:<phase>:p<pass>`` and, in the traced run, every job with
the package source line that fired it (local property ``CALLSITE_PROP``,
falling back to Spark's own ``callSite.short``). This module reads the
uncompressed, non-rolling JSON event log Spark writes and sums, per job
group and per firing module: jobs, stages, tasks, task busy / CPU / GC
time, shuffle and I/O bytes, spill, failed tasks and the Python-worker SQL
metrics. Task intervals are kept so idle time can be measured per window.
"""

from __future__ import annotations

import json
from collections import defaultdict

PACKAGE = "loan_etl_data_pipeline_spark"
BENCH_DIR = "perfbench"
CALLSITE_PROP = "perfbench.callsite"

# SQL accumulables the Python/Arrow operators report per task (ms / bytes)
PYTHON_ACCUMS = {
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

# per-task counters summed into every bucket; *_s values arrive in ms
TASK_COUNTERS = (
    "engine.tasks",
    "engine.task_busy_s",
    "engine.task_cpu_s",
    "engine.gc_s",
    "engine.shuffle_write_bytes",
    "engine.shuffle_read_bytes",
    "engine.fetch_wait_s",
    "engine.spill_bytes",
    "engine.input_bytes",
    "engine.output_bytes",
    "engine.failed_tasks",
    *PYTHON_ACCUMS.values(),
)

# every bucket of the reduction holds exactly these names
BUCKET = ("jobs", "job_s", "stages", *TASK_COUNTERS)

_WANTED = (
    '"SparkListenerJobStart"',
    '"SparkListenerJobEnd"',
    '"SparkListenerStageCompleted"',
    '"SparkListenerTaskEnd"',
)


def module_of(site: str | None) -> str:
    """Map a call site ``"<action> at <file>:<line>"`` to the module that
    fired the job: ``operators.graph`` for a package file, ``bench`` for the
    benchmark's own files, ``other`` for anything else, ``unattributed``
    when the job carries no call site."""
    if not site:
        return "unattributed"
    path = site.split(" at ", 1)[-1].rsplit(":", 1)[0].replace("\\", "/")
    parts = path.split("/")
    if PACKAGE in parts:
        rel = parts[len(parts) - parts[::-1].index(PACKAGE):]
        mod = ".".join(rel)
        return mod[:-3] if mod.endswith(".py") else mod
    if BENCH_DIR in parts[:-1]:
        return "bench"
    return "other"


def _task_values(ev: dict) -> dict[str, float]:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
    failed = info.get("Failed", False) or (
        (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success"
    )
    out = dict.fromkeys(PYTHON_ACCUMS.values(), 0.0)
    out.update({
        "engine.tasks": 1,
        "engine.task_busy_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
        "engine.task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "engine.gc_s": m.get("JVM GC Time", 0) / 1e3,
        "engine.shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "engine.shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "engine.fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "engine.spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "engine.input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "engine.output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "engine.failed_tasks": int(failed),
    })
    for acc in info.get("Accumulables") or ():
        key = PYTHON_ACCUMS.get(acc.get("Name"))
        if key is not None:
            val = float(acc.get("Update") or 0)
            out[key] += val / 1e3 if key.endswith("_s") else val
    return out


def reduce_event_log(path: str, windows=()) -> dict:
    """Reduce one event log file.

    ``windows`` lists ``(group, start_ms, end_ms)`` for the benchmark's
    tagged phases. A job whose group is not one of them (a streaming query
    runs its batches under its own run id) is counted in the window that
    was open when it was submitted.

    Returns ``{"groups": {group: bucket}, "modules": {(group, module):
    bucket}, "intervals": [(launch_ms, finish_ms), ...]}`` where a bucket
    holds the names in ``BUCKET``: ``jobs``, ``job_s`` (submission to
    completion), ``stages`` and the task counters. Only job, stage and task
    end events are parsed; the (large) SQL plan events are skipped by a
    prefix test before ``json.loads``.
    """
    own = {w[0] for w in windows}
    job_key: dict[int, tuple[str, str]] = {}
    job_submit: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    def bucket() -> dict[str, float]:
        return dict.fromkeys(BUCKET, 0.0)

    groups: dict[str, dict] = defaultdict(bucket)
    modules: dict[tuple[str, str], dict] = defaultdict(bucket)
    intervals: list[tuple[int, int]] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:64]
            if not any(w in head for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                site = props.get(CALLSITE_PROP) or props.get("callSite.short")
                group = props.get("spark.jobGroup.id") or ""
                if group not in own:
                    t = ev.get("Submission Time", 0)
                    group = next((g for g, s, e in windows if s <= t <= e), group)
                key = (group, module_of(site))
                job_key[ev["Job ID"]] = key
                job_submit[ev["Job ID"]] = ev.get("Submission Time", 0)
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = ev["Job ID"]
                groups[key[0]]["jobs"] += 1
                modules[key]["jobs"] += 1
                continue
            if kind == "SparkListenerJobEnd":
                key = job_key.get(ev["Job ID"])
                if key is not None:
                    secs = (ev["Completion Time"] - job_submit[ev["Job ID"]]) / 1e3
                    groups[key[0]]["job_s"] += secs
                    modules[key]["job_s"] += secs
                continue
            if kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
            else:
                sid = ev["Stage ID"]
            key = job_key.get(stage_job.get(sid, -1))
            if key is None:
                continue
            if kind == "SparkListenerStageCompleted":
                groups[key[0]]["stages"] += 1
                modules[key]["stages"] += 1
                continue
            info = ev["Task Info"]
            intervals.append((info["Launch Time"], info["Finish Time"]))
            for name, val in _task_values(ev).items():
                groups[key[0]][name] += val
                modules[key][name] += val
    return {"groups": groups, "modules": modules, "intervals": intervals}


def busy_ms(intervals: list[tuple[int, int]], start_ms: float, end_ms: float) -> float:
    """Milliseconds of ``[start_ms, end_ms]`` during which any task ran."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, start_ms), min(e, end_ms)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered
