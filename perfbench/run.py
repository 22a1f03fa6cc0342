"""Benchmark command: one workload in a fresh ``local[4]`` session.

    python3 perfbench/run.py --workload loan_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``
under ``.perfbench/`` (and deletes them afterwards), sets the session up
``SETUPS`` times (``setup_s`` is the median of create_session plus the
first table scan), runs one cold pass, then warm passes until
``--seconds`` have been measured, and checks every operation's output.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1``
the session logs Spark events, jobs are tagged with the package line that
fired them, and the per-layer metrics are printed instead, reduced from
the event log and the benchmark's spans. The traced run then repeats its
passes in an untraced session so it can report its own overhead. A
report with the spans, per-module job counts and counts that did not
repeat across passes is written to ``.perfbench/reports/``.

The times are wall time. The last line of standard output is one JSON
object: ``correct`` (false when an output check could not run),
``attempted`` and ``failed`` (operations that raised or failed their
check) and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
CORES = 4
DRIVER_MEMORY = "1g"
# Add no warm pass that would end (if it took as long as the last pass)
# later than this after the start, so that on a slow host a run stays
# well inside 180 s and a measurement of many runs inside its budget.
MAX_MEASURE_S = 70
WARM_MIN = 2  # warm passes measured unless the deadline comes first

# Per-layer metric -> (end-to-end metric it should move, workload).
LAYER_TARGETS = {
    "session.create_s": ("setup_s", "all"),
    "session.first_scan_s": ("setup_s", "all"),
    "sources.landing.s": ("cold_pass_s, warm_pass_s", "loan_etl"),
    "sources.landing.bytes_written": ("cold_pass_s, warm_pass_s", "loan_etl"),
    "sources.csv.jobs": ("warm_pass_s", "loan_etl"),
    "sources.csv.job_s": ("warm_pass_s", "loan_etl"),
    "operators.cleaning.jobs": ("warm_pass_s", "loan_etl"),
    "operators.cleaning.job_s": ("warm_pass_s", "loan_etl"),
    "operators.profile.jobs": ("warm_pass_s", "loan_etl"),
    "plans.etl.run_s": ("warm_pass_s", "loan_etl"),
    "plans.etl.incremental_s": ("warm_pass_s", "loan_etl"),
    "plans.etl.files_written": ("stored_bytes_per_input_byte", "loan_etl"),
    "plans.etl.bytes_written": ("stored_bytes_per_input_byte", "loan_etl"),
    "streaming.s": ("warm_pass_s", "loan_etl"),
    "streaming.batches": ("warm_pass_s", "loan_etl"),
    "streaming.add_batch_s": ("warm_pass_s", "loan_etl"),
    "streaming.trigger_overhead_s": ("warm_pass_s", "loan_etl"),
    "streaming.rows_in_per_row_landed": ("ok_op_frac", "loan_etl"),
    "queries.build_s": ("warm_pass_s, cold_pass_s", "queries"),
    "queries.build_jobs": ("warm_pass_s, cold_pass_s", "queries"),
    "operators.graph.jobs": ("warm_pass_s", "queries"),
    "operators.spatial.jobs": ("warm_pass_s", "queries"),
    "operators.kmeans.jobs": ("warm_pass_s", "queries"),
    "functions.jobs": ("warm_pass_s", "queries"),
    "plans.iterative.jobs": ("warm_pass_s", "queries"),
    "queries.exec_s": ("warm_pass_s", "queries"),
    "queries.exec_jobs": ("warm_pass_s", "queries"),
    "engine.stages": ("warm_pass_s", "queries"),
    "engine.tasks": ("warm_pass_s", "queries"),
    "engine.idle_s": ("warm_pass_s", "queries"),
    "engine.task_busy_s": ("warm_pass_s", "queries"),
    "engine.task_cpu_s": ("warm_pass_s", "queries"),
    "engine.gc_s": ("warm_pass_s", "queries"),
    "engine.shuffle_write_bytes": ("warm_pass_s", "queries"),
    "engine.shuffle_read_bytes": ("warm_pass_s", "queries"),
    "engine.fetch_wait_s": ("warm_pass_s", "queries"),
    "engine.spill_bytes": ("warm_pass_s", "queries"),
    "engine.input_bytes": ("warm_pass_s", "loan_etl"),
    "engine.output_bytes": ("warm_pass_s", "loan_etl"),
    "engine.failed_tasks": ("ok_op_frac", "loan_etl"),
    "python.worker_start_s": ("cold_pass_s", "queries"),
    "python.worker_init_s": ("cold_pass_s", "queries"),
    "python.run_s": ("warm_pass_s", "queries"),
    "python.bytes_sent": ("warm_pass_s", "queries"),
    "python.bytes_returned": ("warm_pass_s", "queries"),
    "trace.overhead_s": ("warm_pass_s", "all"),
    "host.steal_frac": ("none: a diagnostic of host contention", "all"),
    "trace.unsteady_counts": ("none: names the counts not to claim gains on", "all"),
}

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "ok_op_frac": "ratio",
    "peak_rss_mb": "MiB",
    "stored_bytes_per_input_byte": "B/B",
}


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_per_row_landed") or name.endswith("_frac"):
        return "ratio"
    return "count"


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata file either: the JVM writes it to /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_MATERIALIZE_DIR", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def make_session(work: str, name: str, event_dir: str | None):
    from loan_etl_data_pipeline_spark.session import create_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return create_session(
        f"perfbench-{name}", f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )


def setup(wl, work: str, tracer, event_dir: str | None, times: int):
    """Create the session ``times`` times; keep the last one. Returns it
    with each set-up's wall seconds."""
    spark, seconds = None, []
    for i in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("setup", trace_id=f"setup{i}"):
            with tracer.span("session.create"):
                spark = make_session(work, wl.name, event_dir)
            with tracer.span("session.first_scan"):
                wl.first_scan(spark)
        seconds.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def run_pass(wl, spark, tracer, k: int):
    """Run pass ``k``, noting the share of the host's CPU time in it that
    was stolen (``host.steal_frac``, a diagnostic; the times are wall time)."""
    c0 = cpu_ticks()
    result = wl.run_pass(spark, tracer, k)
    busy, steal = (b - a for a, b in zip(c0, cpu_ticks()))
    result.steal = steal / (busy + steal) if busy + steal else 0.0
    return result


def run_passes(wl, spark, tracer, seconds: float, deadline: float,
               warm_min: int = WARM_MIN) -> list:
    """A cold pass, then warm passes until ``seconds`` of them and at least
    ``warm_min`` have run, or until another pass as long as the last one
    would end after the ``deadline`` (a ``perf_counter`` value)."""
    passes = [run_pass(wl, spark, tracer, 0)]
    t_warm = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        passes.append(run_pass(wl, spark, tracer, len(passes)))
        now = time.perf_counter()
        if (now - t_warm >= seconds and len(passes) > warm_min) or 2 * now - t0 > deadline:
            return passes


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the driver JVM, in MiB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def stop_all(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def e2e_metrics(wl, setups: list[float], passes: list, rss: float) -> dict:
    ops = [r for p in passes for r in p.ops]
    failed = sum(len(p.failures) for p in passes)
    warm = passes[1:]
    if wl.name == "loan_etl":
        stored = _median([
            sum(p.stats[k][3] for k in ("batch", "incremental", "stream_2"))
            / p.stats["csv_bytes"] for p in warm
        ])
    else:
        stored = 1.0  # the query workloads write no output
    values = {
        "setup_s": _median(setups),
        "cold_pass_s": passes[0].seconds,
        "warm_pass_s": _median([p.seconds for p in warm]),
        "ok_op_frac": (len(ops) - failed) / len(ops),
        "peak_rss_mb": rss,
        "stored_bytes_per_input_byte": stored,
    }
    return {k: (v, E2E_UNITS[k]) for k, v in values.items()}


def _group_pass(workload: str, group: str):
    """``(op, phase, pass)`` of a job group the benchmark set, else None."""
    parts = group.split(":")
    if len(parts) == 4 and parts[0] == workload and parts[3][:1] == "p":
        return parts[1], parts[2], int(parts[3][1:])
    return None


def engine_values(wl, tracer, p, reduced: dict) -> dict:
    """Event-log numbers of one pass: task counters, jobs per phase and per
    firing module, and idle time inside the layer calls."""
    from eventlog import TASK_COUNTERS, busy_ms

    out = dict.fromkeys(("jobs", "stages", *TASK_COUNTERS), 0.0)
    phase_jobs = {"build": 0.0, "exec": 0.0}
    for g, b in reduced["groups"].items():
        gp = _group_pass(wl.name, g)
        if gp and gp[2] == p.index:
            for name in out:
                out[name] += b[name]
            if gp[1] in phase_jobs:
                phase_jobs[gp[1]] += b["jobs"]
    mod_jobs: dict[str, float] = {}
    mod_job_s: dict[str, float] = {}
    for (g, mod), b in reduced["modules"].items():
        gp = _group_pass(wl.name, g)
        if gp and gp[2] == p.index:
            mod_jobs[mod] = mod_jobs.get(mod, 0.0) + b["jobs"]
            mod_job_s[mod] = mod_job_s.get(mod, 0.0) + b["job_s"]

    def of(prefix: str, table=mod_jobs) -> float:
        return sum(v for m, v in table.items() if m == prefix or m.startswith(prefix + "."))

    pass_span = next(i for i, s in enumerate(tracer.spans)
                     if s["name"] == "pass" and s["trace"] == f"{wl.name}:p{p.index}")
    idle = 0.0
    for s in tracer.spans:
        if s["parent"] == pass_span:
            busy = busy_ms(reduced["intervals"], s["start"] * 1e3, s["end"] * 1e3)
            idle += (s["end"] - s["start"]) - busy / 1e3
    out.update({
        "engine.idle_s": idle,
        "engine.stages": out.pop("stages"),
        "queries.build_jobs": phase_jobs["build"],
        "queries.exec_jobs": phase_jobs["exec"],
        "sources.csv.job_s": of("sources.csv", mod_job_s),
        "operators.cleaning.job_s": of("operators.cleaning", mod_job_s),
        "modules": mod_jobs,
    })
    for prefix in ("sources.csv", "operators.cleaning", "operators.profile",
                   "operators.graph", "operators.spatial", "operators.kmeans",
                   "functions", "plans.iterative"):
        out[prefix + ".jobs"] = of(prefix)
    return out


def layer_metrics(wl, tracer, passes: list, reduced: dict, overhead: float) -> tuple[dict, dict]:
    """Per-layer metrics and the trace report. Each metric is the median
    over the warm passes, except the session ones (median over the set-ups)
    and Python worker start/init (the cold pass, where they are paid)."""
    per_pass = []
    for p in passes:
        values = dict.fromkeys(LAYER_TARGETS, 0.0)
        values.update(engine_values(wl, tracer, p, reduced))
        values.update(wl.layer_values(p))
        per_pass.append(values)
    metrics = {k: _median([v[k] for v in per_pass[1:]]) for k in LAYER_TARGETS}
    for name in ("python.worker_start_s", "python.worker_init_s"):
        metrics[name] = per_pass[0][name]
    for name in ("session.create", "session.first_scan"):
        metrics[name + "_s"] = _median(
            [s["end"] - s["start"] for s in tracer.spans if s["name"] == name])

    # counts that did not repeat exactly across the passes of this session
    counts: dict[str, list] = {}
    for g, b in reduced["groups"].items():
        gp = _group_pass(wl.name, g)
        if gp:
            for name in ("jobs", "stages", "engine.tasks"):
                counts.setdefault(f"{gp[0]}:{gp[1]}.{name}", [0] * len(passes))[gp[2]] = int(b[name])
    unsteady = {k: v for k, v in sorted(counts.items()) if len(set(v)) > 1}
    metrics["trace.unsteady_counts"] = len(unsteady)
    metrics["trace.overhead_s"] = overhead
    report = {
        "workload": wl.name,
        "seed": wl.seed,
        "metrics": metrics,
        "layer_targets": LAYER_TARGETS,
        "per_pass": per_pass,
        "counts": counts,
        "groups": reduced["groups"],
        "unsteady_counts": unsteady,
        "self_time_s": tracer.self_times(),
        "spans": tracer.spans,
    }
    return {k: (metrics[k], unit_of(k)) for k in LAYER_TARGETS}, report


def traced_metrics(wl, spark, work: str, tracer, tagger, passes, e2e) -> tuple:
    """Reduce this session's event log, then rerun the passes untraced."""
    from eventlog import reduce_event_log
    from spans import Tracer

    log = os.path.join(work, "events", spark.sparkContext.applicationId)
    spark.stop()
    tagger.uninstall()
    reduced = reduce_event_log(log, tracer.windows())
    spark = make_session(work, wl.name, None)
    spark.sparkContext.setLogLevel("ERROR")
    # one cold and one warm pass: enough for the overhead, and keeps a
    # traced run inside 180 s
    untraced = run_passes(wl, spark, Tracer(), 0, time.perf_counter(), warm_min=1)
    overhead = e2e["warm_pass_s"][0] - _median([p.seconds for p in untraced[1:]])
    metrics, report = layer_metrics(wl, tracer, passes, reduced, overhead)
    return spark, metrics, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    prepare_env(work)
    from spans import CallSiteTagger, Tracer

    def log(msg: str) -> None:
        print(f"[{time.perf_counter() - t_start:.1f}s] {msg}", file=sys.stderr)

    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    tracer, spark = Tracer(), None
    tagger = CallSiteTagger() if args.trace else None
    event_dir = os.path.join(work, "events") if args.trace else None
    try:
        wl.prepare()
        if tagger:
            os.makedirs(event_dir)
            tagger.install()
        log("inputs ready")
        spark, setups = setup(wl, work, tracer, event_dir, SETUPS)
        log("set up")
        passes = run_passes(wl, spark, tracer, args.seconds, t_start + MAX_MEASURE_S)
        log("passes done")
        metrics = e2e_metrics(wl, setups, passes, peak_rss_mb(spark))
        if tagger:
            spark, metrics, report = traced_metrics(
                wl, spark, work, tracer, tagger, passes, metrics)
            os.makedirs(os.path.join(base, "reports"), exist_ok=True)
            path = os.path.join(base, "reports", f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump(report, f, indent=1, default=str)
            log(f"trace report {path}")
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    log("stopped")

    for p in passes:
        ops = ", ".join(f"{r.name} {r.seconds:.2f}" for r in p.ops)
        print(f"pass {p.index}: {p.seconds:.2f} s, steal {p.steal:.3f} ({ops})", file=sys.stderr)
        for msg in p.failures:
            print(f"pass {p.index} FAILED {msg.splitlines()[0][:300]}", file=sys.stderr)
    print(json.dumps({
        "correct": all(not p.unchecked for p in passes),
        "attempted": sum(len(p.ops) for p in passes),
        "failed": sum(len(p.failures) for p in passes),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
