"""Probes that read a running Spark session from outside the engine.

* ``StatusStore`` reads jobs and stages from Spark's own status store
  (``sc.statusStore()``, which works with the UI disabled).  Work is
  attributed to a span by the range of job ids started between the span's
  start and end, so streaming micro-batches, which run on their own thread
  and outside any job group, are still counted.
* ``ProgressListener`` is a ``StreamingQueryListener`` that keeps every
  progress event (batch phases, input rows, state-store size).
* ``Tracer`` keeps spans in memory; they are written out when the run ends.
* ``hygiene`` / ``jvm_peak_rss_mb`` / ``load_factor`` read session and
  host state after a pass.
* ``reference_s`` times two fixed pieces of JVM work that run through no
  engine code, to measure how fast the host is at the moment.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024
REF_LONGS = 500_000
REF_SORT_TRIES = 5
REF_JOB_TRIES = 20


def _ms(opt_date) -> float | None:
    """Epoch milliseconds of a Scala ``Option[java.util.Date]``."""
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


@dataclass
class Job:
    id: int
    start_ms: float | None
    end_ms: float | None
    stage_ids: list[int]


@dataclass
class Stage:
    id: int
    tasks: int
    run_ms: float
    cpu_ns: float
    shuffle_read: float
    shuffle_write: float
    spill: float
    gc_ms: float
    launch_wait_ms: float


class StatusStore:
    """Job and stage records of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def next_job(self) -> int:
        """Id the next submitted job will get."""
        return int(self._dag.numTotalJobs())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self._bus.waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> list[Job]:
        out = []
        for j in range(lo, hi):
            jd = self._store.job(j)
            ids = jd.stageIds().mkString(",")
            out.append(
                Job(
                    j,
                    _ms(jd.submissionTime()),
                    _ms(jd.completionTime()),
                    [int(s) for s in ids.split(",") if s],
                )
            )
        return out

    def stages(self, jobs: list[Job]) -> list[Stage]:
        """Stages that ran (not skipped) for ``jobs``, each once."""
        out = []
        for sid in sorted({s for j in jobs for s in j.stage_ids}):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            submitted, launched = _ms(st.submissionTime()), _ms(st.firstTaskLaunchedTime())
            out.append(
                Stage(
                    sid,
                    int(st.numTasks()),
                    float(st.executorRunTime()),
                    float(st.executorCpuTime()),
                    float(st.shuffleReadBytes()),
                    float(st.shuffleWriteBytes()),
                    float(st.memoryBytesSpilled() + st.diskBytesSpilled()),
                    float(st.jvmGcTime()),
                    (launched - submitted) if submitted and launched else 0.0,
                )
            )
        return out


def spark_counters(jobs: list[Job], stages: list[Stage], wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` layer metrics of a set of jobs over ``wall_s``."""
    run_s = sum(s.run_ms for s in stages) / 1e3
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s.tasks for s in stages)),
        "spark.single_task_stage_share": (
            sum(1 for s in stages if s.tasks == 1) / len(stages) if stages else 0.0
        ),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "spark.executor_busy_share": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.stage_launch_wait_s": sum(s.launch_wait_ms for s in stages) / 1e3,
        "spark.shuffle_read_mb": sum(s.shuffle_read for s in stages) / MB,
        "spark.shuffle_write_mb": sum(s.shuffle_write for s in stages) / MB,
        "spark.spill_mb": sum(s.spill for s in stages) / MB,
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1e3,
    }


def driver_only_s(start_s: float, end_s: float, jobs: list[Job]) -> float:
    """Part of ``[start_s, end_s]`` (epoch seconds) in which no job ran."""
    lo, hi = start_s * 1e3, end_s * 1e3
    spans = sorted(
        (max(lo, j.start_ms), min(hi, j.end_ms if j.end_ms is not None else hi))
        for j in jobs
        if j.start_ms is not None
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, (hi - lo) - covered) / 1e3


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds from the plan's tracker.

    Optimization and planning run lazily, so this forces both on the
    DataFrame's own ``QueryExecution`` (the write builds its own)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[f"catalyst.{phase}_s"] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


@dataclass
class Progress:
    batch: int
    input_rows: int
    durations_ms: dict[str, int]
    state_rows: int
    state_bytes: int
    query_id: str


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event in memory."""

    def __init__(self):
        self.events: list[Progress] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        self.events.append(
            Progress(
                int(p.batchId),
                int(p.numInputRows),
                {k: int(v) for k, v in (p.durationMs or {}).items()},
                sum(int(s.numRowsTotal) for s in ops),
                sum(int(s.memoryUsedBytes) for s in ops),
                str(p.id),
            )
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def streaming_counters(events: list[Progress]) -> dict[str, float]:
    """The ``streaming.*`` layer metrics of a set of progress events.

    State size is the sum over queries of each query's last reported
    state (rows and bytes held when the query finished)."""
    last: dict[str, Progress] = {}
    for e in events:
        if e.query_id not in last or e.batch >= last[e.query_id].batch:
            last[e.query_id] = e

    def phase(name: str) -> float:
        return sum(e.durations_ms.get(name, 0) for e in events) / 1e3

    return {
        "streaming.batches": float(len(events)),
        "streaming.input_rows": float(sum(e.input_rows for e in events)),
        "streaming.add_batch_s": phase("addBatch"),
        "streaming.query_planning_s": phase("queryPlanning"),
        "streaming.wal_commit_s": phase("walCommit"),
        "streaming.state_rows": float(sum(e.state_rows for e in last.values())),
        "streaming.state_memory_mb": sum(e.state_bytes for e in last.values()) / MB,
    }


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int
    jobs: tuple[int, int]
    attrs: dict[str, float]


@dataclass
class Tracer:
    """Spans around calls into the engine's layers; a no-op when off."""

    store: StatusStore
    enabled: bool
    pass_id: int = -1
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _next_id: int = 0

    @contextlib.contextmanager
    def span(self, name: str):
        attrs: dict[str, float] = {}
        if not self.enabled:
            yield attrs
            return
        sid, self._next_id = self._next_id, self._next_id + 1
        parent = self._stack[-1] if self._stack else None
        j0, t0 = self.store.next_job(), time.time()
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans.append(
                Span(sid, name, t0, time.time(), parent, self.pass_id,
                     (j0, self.store.next_job()), attrs)
            )

    def of_pass(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]


@dataclass
class SessionState:
    tables: frozenset[str]
    persists: int
    conf: dict[str, str]


def hygiene(spark) -> SessionState:
    """Catalog tables and views, live persisted RDDs and SQL conf."""
    return SessionState(
        frozenset(t.name for t in spark.catalog.listTables()),
        int(spark.sparkContext._jsc.getPersistentRDDs().size()),
        dict(spark.conf.getAll),
    )


def conf_changes(before: SessionState, after: SessionState) -> set[str]:
    keys = set(before.conf) | set(after.conf)
    return {k for k in keys if before.conf.get(k) != after.conf.get(k)}


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the py4j-launched JVM, 0 when it cannot be read."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def load_factor() -> float:
    """1-minute load average over cores; -1 where there is no loadavg."""
    try:
        return os.getloadavg()[0] / (os.cpu_count() or 1)
    except OSError:
        return -1.0


def reference_s(spark) -> dict[str, float]:
    """Median seconds of two fixed pieces of work in the session's JVM:
    ``sort`` generates and sorts ``REF_LONGS`` seeded random longs on one
    thread (``java.util`` only), ``job`` counts a 4-partition RDD built in
    the JVM (one Spark job of four empty tasks: scheduling and thread
    hand-offs, no engine code).  Neither is moved by a change to the engine;
    a busy or slow host moves both."""
    jvm = spark._jvm
    sort = []
    for i in range(REF_SORT_TRIES):
        t0 = time.perf_counter()
        values = jvm.java.util.Random(i).longs(REF_LONGS).toArray()
        jvm.java.util.Arrays.sort(values)
        sort.append(time.perf_counter() - t0)
    items = jvm.java.util.ArrayList()
    for i in range(4):
        items.add(i)
    rdd = spark.sparkContext._jsc.parallelize(items, 4)
    job = []
    for _ in range(REF_JOB_TRIES):
        t0 = time.perf_counter()
        rdd.count()
        job.append(time.perf_counter() - t0)
    return {"sort": statistics.median(sort), "job": statistics.median(job)}
