"""Read-only probes from outside the program: Spark's status stores
(jobs, stages, SQL plan metrics) and ``/proc`` (CPU time, RSS).

Every reader here observes a finished call; none of them changes what
Spark executes. SQL metric values come from the SQL status store as
Spark formats them (``"2.2 s"``, ``"139.6 KiB"``, ``"7,135"``), so
sizes and times carry the display precision.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")

PYTHON_TIME_METRIC = "time to run Python workers"
BROADCAST_SIZE_METRIC = "data size"


def parse_metric(text: str, metric_type: str) -> float:
    """Total of one formatted SQL metric: bytes for sizes, ms for
    timings, the plain number otherwise. Multi-line values
    (``total (min, med, max)\\n<total> (...)``) read their second line."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type == "size":
        return num * _SIZE_UNITS.get(unit, 1)
    if metric_type in ("timing", "nsTiming"):
        return num * _TIME_UNITS.get(unit, 1.0)
    return num


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class GroupStats:
    """What the status stores recorded for one job group."""

    jobs: list[tuple[int, float, float]] = field(default_factory=list)  # id, start, end (epoch s)
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    input_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    broadcast_bytes: float = 0.0
    python_ms: float = 0.0
    python_rows: float = 0.0


class SparkProbe:
    """Status-store readers for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final numbers of the jobs that just ran."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _seq(self, scala_seq):
        return list(self._conv.asJava(scala_seq))

    def group_stats(self, groups) -> dict[str, GroupStats]:
        """Jobs, stage counters and SQL metrics of each job group. Call
        :meth:`drain` first. SQL executions are read once, in id order,
        and each goes to the group that ran its jobs."""
        out: dict[str, GroupStats] = {}
        owner: dict[int, GroupStats] = {}
        for group in groups:
            gs = out[group] = GroupStats()
            job_ids = sorted(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group))
            stage_ids: set[int] = set()
            for jid in job_ids:
                owner[jid] = gs
                jd = self._store.job(jid)
                start = jd.submissionTime()
                end = jd.completionTime()
                if start.isDefined() and end.isDefined():
                    gs.jobs.append(
                        (jid, start.get().getTime() / 1e3, end.get().getTime() / 1e3)
                    )
                stage_ids.update(int(s) for s in self._seq(jd.stageIds()))
            for sid in sorted(stage_ids):
                sd = self._store.lastStageAttempt(sid)
                if str(sd.status()) != "COMPLETE":
                    continue  # skipped: its output was reused
                gs.stages += 1
                gs.tasks += sd.numCompleteTasks()
                gs.executor_run_ms += sd.executorRunTime()
                gs.executor_cpu_ms += sd.executorCpuTime() / 1e6
                gs.input_bytes += sd.inputBytes()
                gs.shuffle_write_bytes += sd.shuffleWriteBytes()
                gs.shuffle_read_bytes += sd.shuffleReadBytes()
                gs.spill_bytes += sd.diskBytesSpilled()
        self._read_sql(owner)
        return out

    def _read_sql(self, owner: dict[int, GroupStats]) -> None:
        """Add the SQL metrics of every execution since the last read to
        the group that ran its jobs: broadcast build sizes and the
        Python/Arrow UDF nodes."""
        misses = 0
        eid = self._next_exec
        while misses < 3:
            found = self._sql.execution(eid)
            eid += 1
            if found.isEmpty():
                misses += 1
                continue
            misses = 0
            self._next_exec = eid
            job_ids = [int(j) for j in self._conv.asJava(found.get().jobs()).keySet()]
            gs = next((owner[j] for j in job_ids if j in owner), None)
            if gs is not None:
                self._add_plan_metrics(eid - 1, gs)

    def _add_plan_metrics(self, eid: int, out: GroupStats) -> None:
        values = self._conv.asJava(self._sql.executionMetrics(eid))
        for node in self._seq(self._sql.planGraph(eid).allNodes()):
            metrics = {m.name(): m for m in self._seq(node.metrics())}
            if PYTHON_TIME_METRIC in metrics:
                for key, attr in ((PYTHON_TIME_METRIC, "python_ms"), ("number of output rows", "python_rows")):
                    m = metrics.get(key)
                    text = values.get(m.accumulatorId()) if m is not None else None
                    if text:
                        setattr(out, attr, getattr(out, attr) + parse_metric(text, m.metricType()))
            if node.name() == "BroadcastExchange" and BROADCAST_SIZE_METRIC in metrics:
                m = metrics[BROADCAST_SIZE_METRIC]
                text = values.get(m.accumulatorId())
                if text:
                    out.broadcast_bytes += parse_metric(text, m.metricType())

    def pinned(self) -> int:
        """Persistent RDDs plus cached relations currently held."""
        rdds = len(self.sc._jsc.getPersistentRDDs())
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        fld = cm.getClass().getDeclaredField("cachedData")
        fld.setAccessible(True)
        return rdds + fld.get(cm).size()

    def storage_bytes(self) -> int:
        """Memory plus disk bytes held by cached and checkpointed RDDs."""
        return sum(
            info.memSize() + info.diskSize() for info in self._jsc.getRDDStorageInfo()
        )


def release_storage(spark) -> None:
    """Drop every cache and local checkpoint, as ``bench.py`` does
    between queries, so the next query is timed clean."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


class ProcTree:
    """CPU time and RSS of a process and its descendants (the driver
    JVM, the Python worker daemon and its workers)."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.seen: set[int] = {root_pid}

    def pids(self) -> list[int]:
        kids = _children_map()
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, ()))
        self.seen.update(out)
        return out

    def cpu_s(self) -> float:
        """User+system time of the tree, including reaped children."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return total / _TICK

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except OSError:
                continue
        return total


class RssSampler:
    """Background thread that keeps the peak RSS of a process tree."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.1):
        self.tree = tree
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.tree.rss_bytes())


def host_steal_s() -> float:
    """CPU time the hypervisor gave to others while this machine's vCPUs
    wanted to run, summed over vCPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / _TICK)


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Poll until none of ``pids`` exists; return the survivors."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive
