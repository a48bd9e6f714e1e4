"""Per-query counters read from outside the engine.

* Jobs, stages and tasks come from the driver's status store
  (``SparkContext.statusStore()``), which Spark keeps with the UI off.
  Jobs are numbered in submission order and the benchmark is a closed
  loop with one client, so the jobs of one query are exactly the ids
  submitted between its start and its end.
* Driver-idle time is the query's wall time minus the union of its
  jobs' [submission, completion] intervals.
* Arrow/Python-worker traffic comes from the SQL status store: the
  metrics of every Python exec node (``MapInPandas``,
  ``ArrowEvalPython``, ``FlatMapGroupsInPandas``, ...) of the
  query's SQL executions. Spark keeps those values as display strings
  (``1.2 MiB``, ``3.4 s``, ``1,024``), so byte and time totals carry
  three significant digits.
* Lineage cuts are the RDDs a query left persisted, counted before
  the benchmark unpersists them.
* Micro-batches come from a ``StreamingQueryListener``.
* Peak memory is sampled from ``/proc`` for the driver JVM and every
  process below it (the Python daemon and its workers).
"""

from __future__ import annotations

import os
import re
import threading
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def parse_metric(text: str) -> float:
    """Total of one SQL metric display string, in bytes, seconds or
    units: ``'total (min, med, max ...)\\n1.2 MiB (...)'`` -> 1258291.2,
    ``'1,024'`` -> 1024."""
    head = text.split("\n", 1)[-1].strip()
    num, _, rest = head.partition(" ")
    unit = rest.split(" ", 1)[0]
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


def jvm_seq(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


@dataclass
class QueryStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_busy_s: float = 0.0
    idle_s: float = 0.0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    fetch_wait_s: float = 0.0
    py_bytes_sent: float = 0.0
    py_bytes_received: float = 0.0
    py_rows_out: float = 0.0
    py_udf_s: float = 0.0
    lineage_cuts: int = 0
    lineage_cut_bytes: int = 0
    output_bytes: int = 0
    # (description, submit_s, complete_s) per job, for span attribution
    job_rows: list = field(default_factory=list)


class StatusReader:
    """Reads what one query did from the status stores."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.next_job = self._job_count()
        self.next_exec = self._exec_count()

    def _job_count(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0

    def _exec_count(self) -> int:
        ex = self._sql.executionsList()  # oldest first
        return ex.last().executionId() + 1 if ex.nonEmpty() else 0

    def jobs_since(self) -> int:
        """Jobs submitted since the last read (the read mark stays)."""
        return self._job_count() - self.next_job

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Skip everything submitted so far (set-up, checks)."""
        self.drain()
        self.next_job = self._job_count()
        self.next_exec = self._exec_count()

    def lineage(self, st: QueryStats) -> None:
        """Bytes of the RDDs the query left persisted (call before
        unpersisting). How many are left depends on when the context
        cleaner last ran, so the count of cuts comes from the tracer."""
        st.lineage_cut_bytes = sum(
            int(i.memSize()) + int(i.diskSize()) for i in self._jsc.getRDDStorageInfo()
        )

    def read(self, st: QueryStats, t0: float, t1: float, full: bool) -> None:
        """Fill ``st`` with the jobs submitted since the last read.
        ``full`` also reads stage and SQL metrics (traced runs)."""
        self.drain()
        end = self._job_count()
        ids = range(self.next_job, end)
        self.next_job = end
        intervals = []
        stage_ids: set[int] = set()
        for jid in ids:
            j = self._store.job(jid)
            sub = j.submissionTime()
            done = j.completionTime()
            a = sub.get().getTime() / 1e3 if sub.isDefined() else t0
            b = done.get().getTime() / 1e3 if done.isDefined() else t1
            intervals.append((a, b))
            desc = j.description()
            st.job_rows.append((desc.get() if desc.isDefined() else "", a, b))
            st.tasks += j.numTasks() - j.numSkippedTasks()
            if full:
                stage_ids.update(jvm_seq(j.stageIds()))
        st.jobs += len(intervals)
        busy = union_len(intervals, t0, t1)
        st.job_busy_s += busy
        st.idle_s += max(0.0, (t1 - t0) - busy)
        if full:
            self._stages(st, stage_ids)
            self._python(st)

    def _stages(self, st: QueryStats, stage_ids: set[int]) -> None:
        for sid in sorted(stage_ids):
            s = self._store.lastStageAttempt(sid)
            if str(s.status().toString()) == "SKIPPED":
                continue
            st.stages += 1
            st.task_run_s += s.executorRunTime() / 1e3
            st.task_cpu_s += s.executorCpuTime() / 1e9
            st.gc_s += s.jvmGcTime() / 1e3
            st.shuffle_write_bytes += s.shuffleWriteBytes()
            st.shuffle_read_bytes += s.shuffleReadBytes()
            st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            st.fetch_wait_s += s.shuffleFetchWaitTime() / 1e3
            st.output_bytes += s.outputBytes()

    def _python(self, st: QueryStats) -> None:
        end = self._exec_count()
        for eid in range(self.next_exec, end):
            try:
                graph = self._sql.planGraph(eid)
            except Py4JJavaError:  # execution evicted, or never planned
                continue
            values = self._sql.executionMetrics(eid)
            for node in jvm_seq(graph.allNodes()):
                if not _PY_NODE.search(node.name()):
                    continue
                for m in jvm_seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    name = m.name()
                    if name == "data sent to Python workers":
                        st.py_bytes_sent += parse_metric(v.get())
                    elif name == "data returned from Python workers":
                        st.py_bytes_received += parse_metric(v.get())
                    elif name == "number of output rows":
                        st.py_rows_out += parse_metric(v.get())
                    elif name == "time to run Python workers":
                        st.py_udf_s += parse_metric(v.get())
        self.next_exec = end


def union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---- streaming --------------------------------------------------------
@dataclass
class StreamStats:
    batches: int = 0
    trigger_s: float = 0.0
    commit_s: float = 0.0
    add_batch_s: float = 0.0
    state_rows: int = 0
    state_bytes: int = 0


class StreamCollector(StreamingQueryListener):
    """Micro-batch progress of every streaming query in the session.
    Progress events arrive on the listener thread; ``take`` is called
    after ``StatusReader.drain`` has flushed the bus."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators
        with self._lock:
            self._events.append((
                str(p.id),
                d.get("triggerExecution", 0),
                d.get("walCommit", 0) + d.get("commitOffsets", 0),
                d.get("addBatch", 0),
                sum(o.numRowsTotal for o in ops),
                sum(o.memoryUsedBytes for o in ops),
            ))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> StreamStats:
        with self._lock:
            ev, self._events = self._events, []
        out = StreamStats(batches=len(ev))
        last: dict[str, tuple] = {}
        for qid, trig, commit, add, rows, nbytes in ev:
            out.trigger_s += trig / 1e3
            out.commit_s += commit / 1e3
            out.add_batch_s += add / 1e3
            last[qid] = (rows, nbytes)
        # state size is what each stream query holds after its last batch
        out.state_rows = sum(r for r, _ in last.values())
        out.state_bytes = sum(b for _, b in last.values())
        return out


# ---- host ---------------------------------------------------------------
def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took away since ``cpu_ticks()``."""
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(1, total - since[1])


# ---- memory -----------------------------------------------------------
def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/children") as fh:
            out.extend(int(c) for c in fh.read().split())
    return out


def tree_rss(root: int) -> tuple[int, int]:
    """Resident bytes of ``root`` and of every process below it."""
    own, below, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        try:
            rss = _rss_bytes(pid)
            todo.extend(_children(pid))
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listing and reading
        if pid == root:
            own = rss
        else:
            below += rss
    return own, below


class RssSampler:
    """Resident memory of the JVM's process tree, sampled every
    ``period`` seconds while running. ``window()`` returns the (JVM,
    processes below it) split at the peak since its previous call."""

    def __init__(self, jvm_pid: int, period: float = 0.05) -> None:
        self.pid = jvm_pid
        self.period = period
        self._peak: tuple[int, tuple[int, int]] = (0, (0, 0))
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        own, below = tree_rss(self.pid)
        with self._lock:
            if own + below > self._peak[0]:
                self._peak = (own + below, (own, below))

    def window(self) -> tuple[int, int]:
        self._sample()
        with self._lock:
            (_total, split), self._peak = self._peak, (0, (0, 0))
        return split

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
