"""Spans around calls into the program, Spark counters per span, and a
peak-RSS sampler.

Spans stay in memory (``Tracer.spans``) and are written out once at the
end of a run.  A span records the Spark jobs and SQL executions that
started inside it; ``counters`` turns those into engine totals read from
Spark's own status stores:

- ``sparkContext.statusStore()``: jobs, stages, task run/CPU/GC time,
  shuffle and spill bytes, per-task durations;
- ``sharedState().statusStore()``: per-operator SQL metrics
  (``planGraph`` + ``executionMetrics``), parsed by ``sqlmetrics``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import sqlmetrics


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    executions: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping and counter reads
        self._sc = spark.sparkContext
        self._core = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _last_execution(self) -> int:
        ex = self._sql.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def _executions_after(self, last: int) -> list[int]:
        ex = self._sql.executionsList()
        out = []
        for i in range(ex.size() - 1, -1, -1):
            eid = ex.apply(i).executionId()
            if eid <= last:
                break
            out.append(eid)
        return sorted(out)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        drain(self.spark)
        job0 = next_job_id(self.spark)
        ex0 = self._last_execution()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            drain(self.spark)
            s.jobs = list(range(job0, next_job_id(self.spark)))
            s.executions = self._executions_after(ex0)
            self.overhead_s += time.perf_counter() - t1

    # -- counters -------------------------------------------------------

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._core.job(jid)
        except Py4JJavaError:  # evicted from the status store's retention window
            return None

    def _stages(self, job_ids: list[int]):
        return completed_stages(self.spark, job_ids)

    def counters(self, s: Span) -> dict[str, float]:
        """Engine totals for the jobs a span started."""
        tot = dict.fromkeys(
            ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_bytes", "spill_bytes"), 0.0)
        tot["jobs"] = float(len(s.jobs))
        for st in self._stages(s.jobs):
            tot["tasks"] += st.numCompleteTasks()
            tot["executor_run_s"] += st.executorRunTime() / 1e3
            tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.diskBytesSpilled()
        tot["driver_s"] = max(0.0, s.seconds - self._job_cover(s))
        return tot

    def _job_cover(self, s: Span) -> float:
        """Seconds of the span during which at least one job ran."""
        iv = []
        for job in filter(None, map(self._job, s.jobs)):
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                a = max(s.start, sub.get().getTime() / 1e3)
                b = min(s.end, done.get().getTime() / 1e3)
                if b > a:
                    iv.append((a, b))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(iv):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return covered

    def task_skew(self, s: Span) -> float:
        """Slowest task ÷ median task of the span's busiest stage."""
        t0 = time.perf_counter()
        try:
            return self._task_skew(s)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _task_skew(self, s: Span) -> float:
        busiest = max(self._stages(s.jobs), key=lambda st: st.executorRunTime(), default=None)
        if busiest is None:
            return 0.0
        tl = self._core.taskList(busiest.stageId(), busiest.attemptId(), 1 << 20)
        durations = [tl.apply(i).duration().get() for i in range(tl.size())
                     if tl.apply(i).duration().isDefined()]
        med = statistics.median(durations) if durations else 0
        return max(durations) / med if med else 0.0

    def sql_metrics(self, s: Span) -> list[tuple[str, str, sqlmetrics.Metric]]:
        """(operator, metric, value) for every SQL metric the span produced."""
        t0 = time.perf_counter()
        try:
            return self._sql_metrics(s)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _sql_metrics(self, s: Span) -> list[tuple[str, str, sqlmetrics.Metric]]:
        out = []
        for eid in s.executions:
            values = {}
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                ms = node.metrics()
                for j in range(ms.size()):
                    text = values.get(ms.apply(j).accumulatorId())
                    if text is not None:
                        out.append((node.name(), ms.apply(j).name(), sqlmetrics.parse(text)))
        return out

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        own = {s.id: s.seconds for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.seconds
        return own

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def metric_sum(rows, operator_prefix: str, metric: str) -> float:
    return sum(m.total for op, name, m in rows if op.startswith(operator_prefix) and name == metric)


def descendants(root: int) -> list[int]:
    """Live (non-zombie) processes below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        state, ppid = stat[stat.rfind(")") + 2:].split()[:2]
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process and every live process
    below it (the JVM, the Python daemon and its workers), each with the
    CPU of the children it has already reaped."""
    total = 0
    for pid in (os.getpid(), *descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def next_job_id(spark) -> int:
    """Spark job ids are handed out in order by the DAG scheduler, so the
    jobs started between two calls are the ids in between (streaming
    micro-batch jobs included, which carry a job group)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def drain(spark) -> None:
    """Wait until the asynchronous listener bus has fed the status stores."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def completed_stages(spark, job_ids):
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    for jid in job_ids:
        try:
            job = store.job(jid)
        except Py4JJavaError:  # evicted from the status store's retention window
            continue
        ids = job.stageIds()
        for k in range(ids.size()):
            stage = store.lastStageAttempt(ids.apply(k))
            if stage.status().toString() == "COMPLETE":
                yield stage


def steal_seconds() -> float:
    """CPU time the hypervisor took from this VM, per online CPU."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK / os.cpu_count()


@dataclass(frozen=True)
class Mark:
    wall: float
    cpu: float
    steal: float


def mark() -> Mark:
    return Mark(time.perf_counter(), tree_cpu_seconds(), steal_seconds())


@dataclass(frozen=True)
class Cost:
    """Wall seconds between two marks, the CPU seconds the whole process
    tree (client, JVM, Python workers) spent in between, and the CPU seconds
    per CPU the hypervisor gave to other guests meanwhile.

    ``net`` is the wall time less that steal: what the pass takes on a host
    that does not share its cores.  Driver time, idle cores, waits and work
    pushed onto fewer cores all still count in it."""

    wall: float
    cpu: float
    steal: float = 0.0

    @property
    def net(self) -> float:
        return self.wall - self.steal

    def __add__(self, o: Cost) -> Cost:
        return Cost(self.wall + o.wall, self.cpu + o.cpu, self.steal + o.steal)


def cost(a: Mark, b: Mark) -> Cost:
    return Cost(b.wall - a.wall, b.cpu - a.cpu, b.steal - a.steal)


class RssSampler:
    """Peak of Σ proportional resident memory (PSS) over every descendant
    process — the JVM and its Python workers — sampled on a thread while the
    ``with`` body runs.  PSS splits pages shared after a fork between the
    sharers, so forked workers and short-lived forks of the JVM are not
    counted twice."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self.interval_s)

    @staticmethod
    def sample() -> int:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total
