"""Run plumbing shared by the workloads: the Spark session lifecycle,
spans around layer calls, Spark event-log attribution, the worker RSS
poller, the host stamp and the step/check ledger.

Everything here sits outside the engine.  A span times one call into a
layer's public function; in a traced run it also puts that call's Spark
jobs in a job group named after the span, and the event log written by
``spark.eventLog.enabled`` is parsed after the session stops to add
per-group task metrics (executor run/CPU time, shuffle, spill, result
size, job/stage/task counts).
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import threading
import time
from contextlib import contextmanager

import numpy as np

MB = 1024.0 * 1024.0


# ---------------------------------------------------------------- processes


def _ppid_map() -> dict:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int) -> list:
    ppid = _ppid_map()
    kids: dict = {}
    for pid, parent in ppid.items():
        kids.setdefault(parent, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


RSS_POLL_S = 0.25


class WorkerRssPoller:
    """Polls ``/proc`` for the summed RSS of this process's Spark Python
    workers (the ``pyspark.daemon`` process and the workers it forks)
    every ``RSS_POLL_S`` seconds."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = 0
            for p in descendants(me):
                cmd = _cmdline(p)
                if "pyspark" in cmd and "python" in cmd.split(" ", 1)[0]:
                    total += _rss_kb(p)
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(RSS_POLL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- session

NO_PERF_DATA = "-XX:-UsePerfData"


def configure_process(work_dir: str, cpus: int) -> None:
    """Keep every file Spark and Python write inside ``work_dir``, and fix
    the local parallelism before the session starts."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir
    # says; the launcher JVM of spark-submit reads SPARK_LAUNCHER_OPTS.
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    import tempfile

    tempfile.tempdir = tmp


def session_conf(work_dir: str, driver_memory: str, event_log_dir: str | None) -> dict:
    conf = {
        "spark.driver.memory": driver_memory,
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"{NO_PERF_DATA} -Djava.io.tmpdir="
        + os.path.join(work_dir, "tmp"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


STOP_TIMEOUT_S = 60.0


def stop_session(spark) -> None:
    """Stop the session, shut the JVM gateway down and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=STOP_TIMEOUT_S)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    deadline = time.time() + STOP_TIMEOUT_S
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ---------------------------------------------------------------- spans


class Tracer:
    """Times spans around layer calls; in a traced run also tags their
    Spark jobs with a job group of the span's name."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spark = None
        self.spans: dict = {}  # name -> list of (start, end) epoch seconds

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if (self.traced and self.spark) else None
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.setdefault(name, []).append((t0, time.time()))
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wall(self, name: str) -> float:
        return sum(b - a for a, b in self.spans.get(name, []))

    def last(self, name: str) -> float:
        a, b = self.spans[name][-1]
        return b - a

    def median(self, name: str) -> float:
        return median([b - a for a, b in self.spans.get(name, [(0.0, 0.0)])])


def _union_seconds(intervals: list) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def parse_event_log(path: str) -> dict:
    """Per job group: job/stage/task counts, executor run and CPU
    seconds, shuffle read/write, spill and result MB, and the job
    intervals (epoch seconds)."""
    stage_group: dict = {}
    groups: dict = {}

    def g(name):
        return groups.setdefault(
            name,
            {
                "jobs": 0, "stages": set(), "tasks": 0,
                "run_s": 0.0, "cpu_s": 0.0, "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0, "result_mb": 0.0,
                "job_intervals": [], "_job_start": {},
            },
        )

    job_group: dict = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                name = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                rec = g(name)
                rec["jobs"] += 1
                rec["_job_start"][ev["Job ID"]] = ev["Submission Time"] / 1000.0
                job_group[ev["Job ID"]] = name
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, name)
            elif kind == "SparkListenerJobEnd":
                name = job_group.get(ev["Job ID"])
                if name is not None:
                    rec = g(name)
                    start = rec["_job_start"].pop(ev["Job ID"], None)
                    if start is not None:
                        rec["job_intervals"].append(
                            (start, ev["Completion Time"] / 1000.0)
                        )
            elif kind == "SparkListenerTaskEnd":
                rec = g(stage_group.get(ev["Stage ID"], "-"))
                rec["stages"].add(ev["Stage ID"])
                rec["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                rec["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["result_mb"] += m.get("Result Size", 0) / MB
                rec["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    for rec in groups.values():
        rec["stages"] = len(rec["stages"])
        rec.pop("_job_start")
    return groups


def event_log_file(event_log_dir: str) -> str:
    files = [
        os.path.join(event_log_dir, f)
        for f in os.listdir(event_log_dir)
        if not f.startswith(".")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, found {files}")
    return files[0]


TRAIN_LAYER_UNITS = {
    "jobs_per_iter": "count",
    "stages_per_iter": "count",
    "tasks_per_iter": "count",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "result_mb": "MB",
    "spill_mb": "MB",
    "driver_s": "s",
}


def layer_metrics(prefix: str, groups: dict, tracer: Tracer, span: str,
                  iterations: int, passes: int) -> dict:
    """Spark work and driver time of one training span, per iteration
    for the counts and per training call for the rest.  ``driver_s`` is
    span wall time not covered by any of the span's Spark jobs."""
    rec = groups.get(span)
    if rec is None:
        return {}
    calls = max(passes, 1)
    per_iter = max(iterations, 1) * calls
    values = {
        "jobs_per_iter": rec["jobs"] / per_iter,
        "stages_per_iter": rec["stages"] / per_iter,
        "tasks_per_iter": rec["tasks"] / per_iter,
        "executor_cpu_s": rec["cpu_s"] / calls,
        "executor_run_s": rec["run_s"] / calls,
        "shuffle_read_mb": rec["shuffle_read_mb"] / calls,
        "shuffle_write_mb": rec["shuffle_write_mb"] / calls,
        "result_mb": rec["result_mb"] / calls,
        "spill_mb": rec["spill_mb"] / calls,
        "driver_s": max(tracer.wall(span) - _union_seconds(rec["job_intervals"]), 0.0)
        / calls,
    }
    return {f"{prefix}.{k}": (v, TRAIN_LAYER_UNITS[k]) for k, v in values.items()}


# ---------------------------------------------------------------- host


def control_loop_s(spark) -> float:
    """A fixed numpy loop plus one trivial Spark job: a host-speed probe."""
    t0 = time.perf_counter()
    x = np.linspace(0.0, 1.0, 200_000)
    for _ in range(40):
        x = np.sqrt(np.exp(-x) + 1.0) - 1.0
    spark.range(0, 1000, 1, 1).count()
    return time.perf_counter() - t0


def host_stamp(driver_memory: str, cpus: int) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024.0),
        "spark_graft_cpus": cpus,
        "driver_memory": driver_memory,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": np.__version__,
        "machine": platform.machine(),
    }


# ---------------------------------------------------------------- ledger


class Ledger:
    """Counts attempted and failed steps; a step is one call into the
    engine (read/parse, train, infer, display, one registry query) or
    one output check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list = []

    @contextmanager
    def step(self, name: str, fatal: bool = True):
        """Count one step; a failure is recorded, and re-raised when the
        rest of the workload depends on the step."""
        self.attempted += 1
        try:
            yield
        except Exception as exc:  # noqa: BLE001
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}")
            print(f"[perfbench] step failed: {name}: {exc!r}", file=sys.stderr)
            if fatal:
                raise

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name}: {detail}")
            print(f"[perfbench] check failed: {name}: {detail}", file=sys.stderr)
        return ok


def median(xs) -> float:
    return float(statistics.median(xs))
