"""Shared plumbing for the benchmark: sample records and spans, the
Spark session's lifecycle, process memory, and attribution of Spark's
event log to the benchmark's spans.

Nothing here starts a process at import time; `run.py` owns the flow.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
RESULTS = os.path.join(WORK, "results")


# ---------------------------------------------------------------------------
# samples


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def quartiles(xs: list[float]) -> dict:
    """Median and quartiles as `statistics.quantiles(n=4)` gives them."""
    if len(xs) >= 2:
        q1, q2, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q2 = q3 = median(xs)
    return {"n": len(xs), "p25": q1, "p50": q2, "p75": q3}


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label. Below twenty samples no such percentile is above the
    median, so the run's maximum is reported and labelled as such."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        return s[n - 11], f"p{100 * (n - 10) // n} of {n}"
    return (s[-1] if s else 0.0), f"max of {n}"


class Recorder:
    """Every sample of every metric, plus spans.

    `span(layer, call)` times one call the benchmark makes into a layer.
    With tracing on it also sets the Spark job group
    `<workload>:<layer>:<call>` around the call, so the event log ties
    each job to the call that caused it; spans stay in memory until the
    run ends."""

    def __init__(self, workload: str, trace: bool):
        self.workload = workload
        self.trace = trace
        self.samples: dict[str, list[float]] = {}
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.sc = None  # SparkContext, set once the session is up

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def values(self, name: str) -> list[float]:
        return self.samples.get(name, [])

    @contextmanager
    def span(self, layer: str, call: str, **attrs):
        group = f"{self.workload}:{layer}:{call}"
        if self.trace and self.sc is not None:
            self.sc.setJobGroup(group, group)
        self._stack.append(group)
        rec = {"group": group, "layer": layer, "call": call, **attrs}
        t0 = time.time()
        try:
            yield rec
        finally:
            rec["t0"], rec["t1"] = t0, time.time()
            self._stack.pop()
            self.spans.append(rec)
            if self.trace and self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1], self._stack[-1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def spans_of(self, layer: str, call: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["layer"] == layer and (call is None or s["call"] == call)
        ]


# ---------------------------------------------------------------------------
# files and processes


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass  # removed by Spark while walking
    return total


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this driver process plus its JVM (VmHWM)."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def prepare_env(run_dir: str) -> None:
    """Keep Spark's scratch inside the run directory and let Spark's
    Python workers import the package from the checkout root."""
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_spark(workload: str, cpus: int, run_dir: str, trace: bool):
    from ergo_uexplorer_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        # a fixed heap: peak RSS then tracks what the run touches, not
        # how far the collector chose to grow the heap
        "spark.driver.memory": "1536m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms1536m -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            }
        )
    return get_spark(app_name=f"perfbench-{workload}", cpus=cpus, extra_conf=conf)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort on a stuck JVM
            proc.kill()
            proc.wait(timeout=30)


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# event log attribution


def read_event_log(eventlog_dir: str) -> list[dict]:
    keep = (
        "SparkListenerJobStart",
        "SparkListenerJobEnd",
        "SparkListenerTaskEnd",
        "SQLExecutionStart",
        "SQLAdaptiveExecutionUpdate",
    )
    events = []
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith(
            (".", "appstatus")
        ):
            continue
        with open(path) as f:
            for line in f:
                head = line[:160]
                if any(k in head for k in keep):
                    events.append(json.loads(line))
    return events


def _scan_row_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of `number of output rows` on table-scan nodes."""
    name = plan.get("nodeName", "")
    if name == "InMemoryTableScan" or name.startswith("Scan "):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_row_accumulators(child, out)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def attribute(events: list[dict], spans: list[dict]) -> None:
    """Join Spark jobs and their tasks' metrics to the spans that caused
    them, in place. A job is charged to every span open when it was
    submitted, so a span's figures include its child spans'; matching
    by time also covers jobs the engine submits from its own threads,
    which do not inherit the caller's job group. Adds per span: `jobs`,
    `executor_run_s`, `cpu_s`, `gc_s`, `shuffle_bytes`, `spill_bytes`,
    `rows_read` (table-scan output rows) and `task_cover_s` (wall time
    covered by at least one running task)."""
    scan_ids: set = set()
    for e in events:
        if "sparkPlanInfo" in e:
            _scan_row_accumulators(e["sparkPlanInfo"], scan_ids)
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"t": e["Submission Time"] / 1000.0, "tasks": []}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is not None:
                jobs[jid]["tasks"].append(e)

    for s in spans:
        s.update(
            jobs=0, executor_run_s=0.0, cpu_s=0.0, gc_s=0.0, shuffle_bytes=0,
            spill_bytes=0, rows_read=0, task_cover_s=0.0, _iv=[],
        )
    for job in jobs.values():
        for owner in spans:
            if owner["t0"] <= job["t"] <= owner["t1"]:
                _charge(owner, job, scan_ids)
    for s in spans:
        s["task_cover_s"] = _union_ms(s.pop("_iv")) / 1000.0


def _charge(owner: dict, job: dict, scan_ids: set) -> None:
        owner["jobs"] += 1
        for t in job["tasks"]:
            m = t.get("Task Metrics") or {}
            info = t.get("Task Info") or {}
            owner["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            owner["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            owner["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            owner["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            owner["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in info.get("Accumulables", []):
                if acc.get("ID") in scan_ids:
                    owner["rows_read"] += int(acc.get("Update", 0) or 0)
            if info.get("Launch Time") and info.get("Finish Time"):
                owner["_iv"].append((info["Launch Time"], info["Finish Time"]))
