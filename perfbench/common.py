"""Shared pieces of the benchmark: session set-up and teardown, the run
log kept around each unit of work, and the traced run's spans and
Spark status-store counters.

Everything here measures the program from outside: it times calls into
the program's public functions and reads Spark's own status stores.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from datetime import datetime

APP = "perfbench"
MB = 1024 * 1024


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ tracing
class Tracer:
    """Spans and counters for the traced run. With ``enabled`` false
    every method is a no-op, so the timed runs pay nothing.

    A span is (name, start, end, parent); spans stay in memory and are
    written out by :meth:`dump`. Each thread has its own span stack, so
    concurrent orchestrator steps nest correctly. A span opened with
    ``only=<job description>`` counts only the jobs and SQL executions
    carrying that description (the orchestrator describes each step's
    jobs by the step name). ``overhead_s`` accumulates the time spent
    reading Spark's status stores, which is the tracing cost."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.overhead_s = 0.0
        self.probe: StatusProbe | None = None

    def attach(self, spark) -> None:
        if self.enabled:
            self.probe = StatusProbe(spark)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        before = self._snapshot()
        rec = {"name": name, "start": time.perf_counter(), "parent": stack[-1] if stack else None}
        rec.update(attrs)
        with self._lock:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if before is not None:
                rec["counts"] = self._delta(before, attrs.get("only"))

    def _snapshot(self):
        if self.probe is None:
            return None
        t0 = time.perf_counter()
        snap = self.probe.mark()
        self._charge(time.perf_counter() - t0)
        return snap

    def _delta(self, before, only) -> dict:
        t0 = time.perf_counter()
        out = self.probe.since(before, only)
        self._charge(time.perf_counter() - t0)
        return out

    def _charge(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s}, fh)


class StatusProbe:
    """Exact job, stage, task and SQL-execution counts for an interval,
    read from ``AppStatusStore`` (works with the UI disabled).

    The store keeps only the last ``spark.ui.retainedStages`` stages and
    ``retainedJobs`` jobs, so a delta is never a difference of whole-list
    sums: :meth:`since` walks the job IDs above the last one seen and
    sums the stages those jobs ran."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).head().executionId())

    def mark(self) -> dict:
        self._drain()
        self._next_job = self._scan_jobs(self._next_job, None, None)[0]
        return {"job": self._next_job, "sql": self._last_execution_id(), "t": time.perf_counter()}

    @staticmethod
    def _described(desc, only: str | None) -> bool:
        """``desc`` is a Scala Option (jobs) or a plain string (SQL
        executions)."""
        if only is None:
            return True
        if not isinstance(desc, str):
            desc = str(desc.get()) if desc.isDefined() else None
        return desc == only

    def _scan_jobs(self, first: int, stage_ids: set | None, only: str | None) -> tuple[int, int]:
        """Walk job IDs from ``first`` to the first one not in the store.
        Returns (that ID, jobs matching ``only``), collecting the stage
        IDs of the matching jobs into ``stage_ids``."""
        j, matched = first, 0
        while True:
            try:
                job = self._store.job(j)
            except Exception:  # py4j wraps NoSuchElementException
                return j, matched
            if stage_ids is not None and self._described(job.description(), only):
                matched += 1
                ids = job.stageIds()
                for i in range(ids.size()):
                    stage_ids.add(int(ids.apply(i)))
            j += 1

    def _executions(self, after: int, only: str | None) -> int:
        last = self._last_execution_id()
        if only is None:
            return last - after
        n = 0
        for i in range(after + 1, last + 1):
            ex = self._sql.execution(i)
            if ex.isDefined() and self._described(ex.get().description(), only):
                n += 1
        return n

    def since(self, before: dict, only: str | None = None) -> dict:
        self._drain()
        stage_ids: set[int] = set()
        end, jobs = self._scan_jobs(before["job"], stage_ids, only)
        self._next_job = max(self._next_job, end)
        out = {
            "wall_s": time.perf_counter() - before["t"],
            "jobs": jobs,
            "sql_executions": self._executions(before["sql"], only),
            "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        }
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return out


EXEC_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)


def layer_split(builds: list[dict], execs: list[dict], counts: list[dict], wall_s: float,
                rounds: int, cores: int, prefix: str) -> dict[str, float]:
    """Per-round means of the build and exec layers over ``rounds``
    rounds: time in ``builds`` and ``execs`` spans, SQL executions
    started while building, and the ``exec.*`` sums of ``counts``.
    ``exec.busy_ratio`` is task run time over (wall x cores)."""
    n = max(1, rounds)
    out = {
        f"{prefix}build_s": sum(b["end"] - b["start"] for b in builds) / n,
        f"{prefix}build.sql_executions": sum(b.get("counts", {}).get("sql_executions", 0) for b in builds) / n,
        f"{prefix}exec_s": sum(e["end"] - e["start"] for e in execs) / n,
    }
    for k in EXEC_KEYS:
        out[f"{prefix}exec.{k}"] = sum(c.get(k, 0) for c in counts) / n
    run_s = sum(c.get("task_run_s", 0) for c in counts)
    out[f"{prefix}exec.busy_ratio"] = run_s / (wall_s * cores) if wall_s > 0 else 0.0
    return out


# ------------------------------------------------------------ session
class Session:
    """The program's session as a user builds it: ``get_spark``, the
    query ``registry()`` and the table ``views()``. ``set_up`` times
    each part; ``stop`` tears the session down so the next set-up
    starts a fresh one (new SparkContext, empty staging)."""

    def __init__(self, data_dir: str, cpus: int, tracer: Tracer) -> None:
        self.data_dir = data_dir
        self.cpus = cpus
        self.tracer = tracer
        self.spark = None
        self.cases = None
        self.setups: list[dict] = []

    def set_up(self) -> float:
        from etl_service_spark.plans.queries import registry, views
        from etl_service_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(APP, cpus=self.cpus)
        t1 = time.perf_counter()
        self.cases = registry()
        t2 = time.perf_counter()
        views(self.spark, self.data_dir)
        t3 = time.perf_counter()
        self.setups.append({"session_s": t1 - t0, "registry_s": t2 - t1, "views_s": t3 - t2})
        return t3 - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def set_up_times(self, n: int) -> list[float]:
        """``n`` set-ups, each after tearing down the previous session.
        The first also launches the JVM. The last session stays up."""
        out = []
        for i in range(n):
            if i:
                self.stop()
            out.append(self.set_up())
        self.tracer.attach(self.spark)
        return out

    def layer_metrics(self) -> dict[str, float]:
        """The first set-up's JVM launch; medians over the later set-ups."""
        later = self.setups[1:] or self.setups
        return {
            "session.jvm_launch_s": self.setups[0]["session_s"],
            "session.start_s": median(x["session_s"] for x in later),
            "registry.build_s": median(x["registry_s"] for x in later),
            "catalog.views_s": median(x["views_s"] for x in later),
        }

    def temp_views(self) -> int:
        return sum(1 for t in self.spark.catalog.listTables() if t.isTemporary)

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return 0.0
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0


def shutdown_jvm() -> None:
    """Stop Spark and the JVM behind py4j, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # already closed
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------ run log
class Monitor:
    """The run-log plane around a workload: the program's ``RunLog``,
    a context manager that logs one step (and its error, if it raises),
    and :meth:`report`, which flushes the log and runs the three
    monitoring analytics, timing both."""

    ANALYTICS = ("last_run_per_workflow_sql", "run_tree_sql", "error_report_sql")

    def __init__(self, base_path: str) -> None:
        from etl_service_spark.plans.runlog import RunLog

        self.base_path = base_path
        self.log = RunLog(base_path)
        self.flush_s: list[float] = []
        self.analytics_s: list[float] = []
        self.last: dict[str, list] = {}

    @contextmanager
    def step(self, name: str, parent: int):
        run_id = self.log.open("step", name, parent, datetime.now())
        box = {"rows": None}
        try:
            yield box
        except Exception as exc:
            self.log.error("step", run_id, str(exc)[:500])
            self.log.close("step", run_id, success=False)
            raise
        self.log.close("step", run_id, success=True, expected_rows=box["rows"])

    def report(self, spark) -> float:
        from etl_service_spark.plans import runlog

        t0 = time.perf_counter()
        self.log.flush(spark)
        t1 = time.perf_counter()
        runlog.register_runlog_views(spark, self.base_path)
        for name in self.ANALYTICS:
            self.last[name] = spark.sql(getattr(runlog, name)()).collect()
        t2 = time.perf_counter()
        self.flush_s.append(t1 - t0)
        self.analytics_s.append(t2 - t1)
        return t2 - t0

    def check(self) -> list[str]:
        """The last report's run tree spans 4 levels and no run failed."""
        problems = []
        levels = {r["level"] for r in self.last.get("run_tree_sql", [])}
        if levels != {"workflow", "package", "realization", "step"}:
            problems.append(f"run tree levels {sorted(levels)}")
        if self.last.get("error_report_sql"):
            problems.append(f"{len(self.last['error_report_sql'])} failed runs in the run log")
        if not self.last.get("last_run_per_workflow_sql"):
            problems.append("no workflow run in the run log")
        return problems

    def layer_metrics(self) -> dict[str, float]:
        return {"runlog.flush_s": median(self.flush_s), "runlog.analytics_s": median(self.analytics_s)}


_TICK = os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def host_state() -> dict:
    """Load average, CPU pressure (``/proc/pressure/cpu``) and the
    box's cumulative steal time now."""
    out = {"loadavg": list(os.getloadavg()), "cpu_pressure": None, "cpu_some_avg10": 0.0, "steal_s": _steal_s()}
    try:
        with open("/proc/pressure/cpu") as fh:
            out["cpu_pressure"] = fh.read().strip().splitlines()
    except OSError:
        return out
    for line in out["cpu_pressure"]:
        if line.startswith("some"):
            out["cpu_some_avg10"] = float(line.split()[1].split("=")[1])
    return out
