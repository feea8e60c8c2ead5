"""DAG orchestrator (SURVEY §2.8 O1-O9) — the Spark-idiomatic
replacement for the reference's hand-rolled semaphores/queues.

The reference coordinates .NET tasks sharing mutable DataTables, so it
needs exclusive locks, FIFO queues and table-access mutual exclusion
(ParallelLockManager.cs, QueueManager.cs, Processor.cs:978-1105).
Spark jobs share nothing mutable — the only real conflict is two steps
writing the same target table. Disposition (SURVEY §2.8):

- O1 global thread cap        → ThreadPoolExecutor(max_workers)
- O2 per-realization step cap → per-realization semaphore
- O3 Parallelsperre           → drain-then-run exclusive phase (an
  exclusive item waits for running peers, runs alone, releases)
- O5 table-access mutex       → per-target-table threading.Lock
  (serializes conflicting writes, preserving observable semantics;
  source reads need no lock — parquet/Delta reads are snapshot-safe)
- O6 package dependency DAG   → topological waves over the Vorlauf
  edge list (Package.cs:844-1069)
- O7 priority barriers        → realizations grouped by
  Paket_Priorisierung; equal priorities run concurrently, a priority
  change is a barrier (Package.cs:1076-1120)
- O8 step ordering            → steps launch in Schritt_Reihenfolge
  order (Realization.cs:809-843)
- O9 cancellation + fallback  → first failure cancels the run and
  executes the fallback package (Workflow.cs:1387-1735)
"""

from __future__ import annotations

import threading
import uuid
from collections import defaultdict, deque
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Callable

from .statemachine import Stage, WorkflowState


class CycleError(ValueError):
    pass


@dataclass(frozen=True)
class Step:
    """pc.ETL_Paketschritte row essentials (res/pc/ETL_Paketschritte.sql:
    13-20): the action plus its declared table access (Quelltabelle/
    Zieltabelle comma lists, Realization.cs:704-707)."""

    name: str
    action: Callable[[], object]
    order: int = 0  # Schritt_Reihenfolge
    target_tables: tuple[str, ...] = ()
    exclusive: bool = False  # Parallelsperre


@dataclass(frozen=True)
class Realization:
    name: str
    steps: tuple[Step, ...]
    priority: int = 1  # Paket_Priorisierung
    max_parallel_steps: int = 0  # Anzahl_Parallele_Schritte; 0 = unlimited


@dataclass(frozen=True)
class Package:
    name: str
    realizations: tuple[Realization, ...] = ()
    depends_on: tuple[str, ...] = ()  # Vorlauf package names


@dataclass
class RunReport:
    succeeded: list[str] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    fallback_ran: bool = False
    package_order: list[str] = field(default_factory=list)


def topological_waves(packages: dict[str, Package]) -> list[list[str]]:
    """O6: Kahn's algorithm returning dependency 'waves' — every package
    in wave i only depends on waves < i, so a wave runs concurrently."""
    indeg = {n: 0 for n in packages}
    out: dict[str, list[str]] = defaultdict(list)
    for p in packages.values():
        for dep in p.depends_on:
            if dep not in packages:
                raise CycleError(f"unknown dependency {dep!r} of {p.name!r}")
            indeg[p.name] += 1
            out[dep].append(p.name)
    wave = sorted(n for n, d in indeg.items() if d == 0)
    waves: list[list[str]] = []
    seen = 0
    while wave:
        waves.append(wave)
        seen += len(wave)
        nxt: set[str] = set()
        for n in wave:
            for m in out[n]:
                indeg[m] -= 1
                if indeg[m] == 0:
                    nxt.add(m)
        wave = sorted(nxt)
    if seen != len(packages):
        raise CycleError("dependency cycle among packages")
    return waves


class TableLockManager:
    """O5: serialize writes per target table (the one conflict that
    survives the move to Spark)."""

    def __init__(self) -> None:
        self._locks: dict[str, threading.Lock] = {}
        self._guard = threading.Lock()

    def acquire_all(self, tables: tuple[str, ...]) -> list[threading.Lock]:
        # deterministic order prevents deadlock between steps
        got = []
        for t in sorted(set(tables)):
            with self._guard:
                lock = self._locks.setdefault(t, threading.Lock())
            lock.acquire()
            got.append(lock)
        return got

    @staticmethod
    def release_all(locks: list[threading.Lock]) -> None:
        for lock in reversed(locks):
            lock.release()


class AdmissionGate:
    """O1 as a LIVE cap (C9): the reference re-reads Anzahl_ETL_Threads
    every 10-second tick and applies it to the running service
    (Helper.cs:301-410 ReadConfigurations, Processor.cs:1174-1247
    UpdateParameters) — operators use it to throttle a heavy run
    without restarting. A ThreadPoolExecutor's max_workers is fixed at
    construction, so admission is gated here instead: a resizable
    counting gate. Shrinking never preempts — running steps finish;
    every NEW admission obeys the cap in force at acquire time."""

    def __init__(self, cap: int) -> None:
        self._cond = threading.Condition()
        self._cap = max(1, int(cap))
        self._in_use = 0

    @property
    def cap(self) -> int:
        with self._cond:
            return self._cap

    def set_cap(self, cap: int) -> None:
        with self._cond:
            self._cap = max(1, int(cap))
            self._cond.notify_all()  # growth admits queued steps now

    def acquire(self) -> None:
        with self._cond:
            self._cond.wait_for(lambda: self._in_use < self._cap)
            self._in_use += 1

    def release(self) -> None:
        with self._cond:
            self._in_use -= 1
            self._cond.notify_all()


class ExclusiveGate:
    """O3 Parallelsperre: an exclusive step announces, waits for running
    normal steps to drain, runs alone; normal steps wait while an
    exclusive one is announced/running (ParallelLockManager.cs:86-557,
    grant rule Processor.cs:450-470)."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._running_normal = 0
        self._exclusive_waiting = 0
        self._exclusive_running = False

    def enter(self, exclusive: bool) -> None:
        with self._cond:
            if exclusive:
                self._exclusive_waiting += 1
                self._cond.wait_for(lambda: not self._exclusive_running and self._running_normal == 0)
                self._exclusive_waiting -= 1
                self._exclusive_running = True
            else:
                self._cond.wait_for(lambda: not self._exclusive_running and self._exclusive_waiting == 0)
                self._running_normal += 1

    def leave(self, exclusive: bool) -> None:
        with self._cond:
            if exclusive:
                self._exclusive_running = False
            else:
                self._running_normal -= 1
            self._cond.notify_all()


@dataclass
class Workflow:
    name: str
    packages: dict[str, Package]
    master: str
    fallback: str | None = None  # ETL_Fallback_Pakete_ID analogue


class Orchestrator:
    """Runs one workflow: state machine + DAG + admission + locks."""

    def __init__(self, max_threads: int = 10) -> None:
        # O1: Anzahl_ETL_Threads (Processor.cs:66, default 10) — held in
        # a resizable AdmissionGate so C9's per-tick config reload can
        # retune a LIVE run (set_max_threads below).
        self._admission = AdmissionGate(max_threads)
        self.tables = TableLockManager()
        self.gate = ExclusiveGate()

    @property
    def max_threads(self) -> int:
        return self._admission.cap

    def set_max_threads(self, n: int) -> None:
        """C9 hot-reload application point (Processor.cs:1216-1231):
        running steps are untouched; admissions after this call obey
        the new cap, shrink or grow."""
        self._admission.set_cap(n)
    # ------------------------------------------------------------ steps
    def _run_step(self, step: Step, realization_sem: threading.Semaphore | None,
                  cancel: threading.Event, report: RunReport,
                  pool_ctx: tuple | None = None) -> None:
        if cancel.is_set():
            report.skipped.append(step.name)
            return
        self.gate.enter(step.exclusive)
        # O1/C9: the live thread cap. AFTER the exclusive gate — an
        # exclusive step must be able to wait for normal steps to drain
        # without a normal step deadlocking the last admission slot
        # inside gate.enter.
        self._admission.acquire()
        try:
            if realization_sem:
                realization_sem.acquire()
            locks = self.tables.acquire_all(step.target_tables)
            try:
                if cancel.is_set():
                    report.skipped.append(step.name)
                    return
                if pool_ctx is not None:
                    # O1's Spark half: jobs of this workflow run in its
                    # FAIR pool, so concurrent workflows share executors
                    # fairly instead of FIFO-starving each other. Local
                    # properties are per-thread — exactly where Spark
                    # jobs launched by this step's action() will run.
                    # (pool_ctx is threaded through the call chain, not
                    # instance state: one Orchestrator may run several
                    # workflows concurrently.)
                    # O9's Spark half: every job the step launches is
                    # tagged with the run's job group, so the abort
                    # cascade can kill RUNNING jobs mid-step (the
                    # reference aborts mid-step, Step.cs:888-1060) —
                    # without this, a cancelled step's Spark job would
                    # run to completion and only then notice the flag.
                    spark, pool_name, job_group, _ = pool_ctx
                    sc = spark.sparkContext
                    sc.setLocalProperty("spark.scheduler.pool", pool_name)
                    sc.setJobGroup(job_group, step.name, interruptOnCancel=True)
                step.action()
                report.succeeded.append(step.name)
            finally:
                self.tables.release_all(locks)
                if realization_sem:
                    realization_sem.release()
        except Exception:
            if not cancel.is_set():
                # first failure: doom the run and kill every running
                # Spark job of this workflow (O9 abort cascade). The
                # kill is a WATCHDOG, not a one-shot cancelJobGroup:
                # cancellation only hits jobs active at call time, and
                # a doomed step may still be compiling its plan —
                # its job would submit AFTER a one-shot cancel and run
                # to completion. The watchdog re-cancels until every
                # step of the run has drained (run() stops it).
                report.failed.append(step.name)
                cancel.set()
                if pool_ctx is not None:
                    spark, _, job_group, abort_done = pool_ctx

                    def _reap() -> None:
                        sc = spark.sparkContext
                        while not abort_done.wait(0.5):
                            sc.cancelJobGroup(job_group)
                        sc.cancelJobGroup(job_group)

                    threading.Thread(target=_reap, daemon=True).start()
                raise
            # the run was already doomed: this step's job was killed by
            # the abort cascade (or failed after the outcome was
            # decided) — cancelled, not an independent failure
            report.skipped.append(step.name)
        finally:
            self._admission.release()
            self.gate.leave(step.exclusive)

    def _run_realization(self, pool: ThreadPoolExecutor, r: Realization,
                         cancel: threading.Event, report: RunReport,
                         errors: list[BaseException],
                         pool_ctx: tuple | None = None) -> None:
        # O2: per-realization cap; O8: launch in Schritt_Reihenfolge order
        sem = threading.Semaphore(r.max_parallel_steps) if r.max_parallel_steps else None
        futures = [
            pool.submit(self._run_step, s, sem, cancel, report, pool_ctx)
            for s in sorted(r.steps, key=lambda s: s.order)
        ]
        done, _ = wait(futures)
        for f in done:
            exc = f.exception()
            if exc is not None:
                errors.append(exc)

    def _run_package(self, pool: ThreadPoolExecutor, p: Package,
                     cancel: threading.Event, report: RunReport,
                     errors: list[BaseException],
                     pool_ctx: tuple | None = None) -> None:
        report.package_order.append(p.name)
        # O7: group by priority; equal priorities concurrent, change = barrier.
        # Coordination runs on plain threads — only STEPS consume the
        # bounded pool (the reference's thread cap gates steps, O1).
        by_prio: dict[int, list[Realization]] = defaultdict(list)
        for r in p.realizations:
            by_prio[r.priority].append(r)
        for prio in sorted(by_prio):
            if cancel.is_set() and errors:
                return
            threads = [
                threading.Thread(
                    target=self._run_realization,
                    args=(pool, r, cancel, report, errors, pool_ctx),
                )
                for r in by_prio[prio]
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()  # priority barrier (Task.WaitAll, Package.cs:1076-1120)

    # ------------------------------------------------------------- runs
    def run(self, wf: Workflow, state: WorkflowState | None = None, spark=None) -> RunReport:
        report = RunReport()
        cancel = threading.Event()
        errors: list[BaseException] = []
        run_tag = uuid.uuid4().hex[:8]
        abort_done = threading.Event()  # stops the O9 cancel watchdog
        pool_ctx = (
            (spark, f"wf_{wf.name}", f"wf_{wf.name}_{run_tag}", abort_done)
            if spark is not None
            else None
        )
        if state:
            state.transition(Stage.INITIALIZING)
        # restrict to the master package's dependency closure (O6)
        needed: set[str] = set()
        stack = deque([wf.master])
        while stack:
            n = stack.pop()
            if n in needed:
                continue
            needed.add(n)
            stack.extend(wf.packages[n].depends_on)
        waves = topological_waves({n: wf.packages[n] for n in needed})
        if state:
            state.transition(Stage.EXECUTING)
        # The pool is THREAD SUPPLY, not the cap — the AdmissionGate is
        # the cap (so C9's reload can retune it mid-run). Supply is
        # sized above any plausible cap; a grow past it still admits,
        # just bounded by supply until the next run.
        with ThreadPoolExecutor(max_workers=max(64, self.max_threads)) as pool:
            try:
                for wave in waves:
                    if errors:
                        break
                    threads = [
                        threading.Thread(
                            target=self._run_package,
                            args=(pool, wf.packages[n], cancel, report, errors, pool_ctx),
                        )
                        for n in wave
                    ]
                    for t in threads:
                        t.start()
                    for t in threads:
                        t.join()
            finally:
                # all steps drained (or the wave loop raised): ALWAYS
                # stop the cancel watchdog or it spins forever
                abort_done.set()
            if errors:
                # O9: abort cascade happened via the cancel event; run the
                # fallback package, then mark Failed (Workflow.cs:1465-1538)
                if wf.fallback and wf.fallback in wf.packages:
                    fb_errors: list[BaseException] = []
                    # the fallback gets its OWN job group: it runs after
                    # cancelJobGroup and must not share the killed tag —
                    # and its own watchdog stop-event, set in finally so
                    # a failing fallback can't leak a spinning watchdog
                    fb_done = threading.Event()
                    fb_ctx = (
                        (pool_ctx[0], pool_ctx[1], pool_ctx[2] + "_fb", fb_done)
                        if pool_ctx is not None
                        else None
                    )
                    try:
                        self._run_package(
                            pool, wf.packages[wf.fallback], threading.Event(),
                            report, fb_errors, fb_ctx,
                        )
                    finally:
                        fb_done.set()
                    report.fallback_ran = not fb_errors
        if state:
            state.transition(Stage.FAILED if errors else Stage.FINISHED)
        return report
