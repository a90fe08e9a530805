"""Measurement from outside the program: Spark's own status stores read
over py4j, and /proc samples of the host and the Python workers.

Both status stores work with `spark.ui.enabled=false`. Every reader takes a
`Mark` taken before the call it measures and returns what happened after
it, so nothing inside the package has to be instrumented.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass


def _seq(s) -> list:
    """py4j Scala Seq → Python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass(frozen=True)
class Mark:
    job: int  # jobs with id >= this happened after the mark
    sql: int  # SQL executions with id >= this happened after the mark


def _stores(spark):
    return (
        spark.sparkContext._jsc.sc().statusStore(),
        spark._jsparkSession.sharedState().statusStore(),
    )


def mark(spark) -> Mark:
    core, sql = _stores(spark)
    jobs = [j.jobId() for j in _seq(core.jobsList(None))]
    execs = [e.executionId() for e in _seq(sql.executionsList())]
    return Mark(max(jobs, default=-1) + 1, max(execs, default=-1) + 1)


@dataclass
class Job:
    job_id: int
    name: str  # pyspark call site, e.g. "toPandas at .../plans/pipeline.py:332"
    start: float
    end: float
    stage_ids: list


@dataclass
class Stage:
    run_ms: int  # executor run time, summed over tasks
    gc_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    task_run_ms: list  # per successful task, when asked for


def jobs_since(spark, m: Mark) -> list[Job]:
    core, _ = _stores(spark)
    out = []
    for j in _seq(core.jobsList(None)):
        if j.jobId() < m.job:
            continue
        start, end = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
        out.append(
            Job(j.jobId(), j.name(), start, end if end is not None else start,
                [int(s) for s in _seq(j.stageIds())])
        )
    return sorted(out, key=lambda j: j.job_id)


def stages_of(spark, jobs: list[Job], tasks: bool = False) -> list[Stage]:
    """Completed stage attempts of `jobs` (skipped stages have no data)."""
    from py4j.protocol import Py4JJavaError

    core, _ = _stores(spark)
    out = []
    for sid in sorted({s for j in jobs for s in j.stage_ids}):
        try:
            attempts = _seq(core.stageData(sid, False, None, False, None))
        except Py4JJavaError:  # NoSuchElementException: a skipped stage
            continue
        for st in attempts:
            if str(st.status()) != "COMPLETE":
                continue
            task_ms = []
            if tasks:
                for t in _seq(core.taskList(sid, st.attemptId(), 100000)):
                    tm = t.taskMetrics()
                    if str(t.status()) == "SUCCESS" and tm.isDefined():
                        task_ms.append(tm.get().executorRunTime())
            out.append(Stage(st.executorRunTime(), st.jvmGcTime(), st.shuffleReadBytes(),
                             st.shuffleWriteBytes(), task_ms))
    return out


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_NUM = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """A formatted SQL metric → its total in base units (bytes, seconds or a
    count). Timing and size metrics print 'total (min, med, max ...)' on
    the first line and the numbers on the second; the total leads."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def sql_metrics_since(spark, m: Mark) -> dict[str, float]:
    """Σ of every SQL operator metric, by metric name, over the executions
    that started after the mark (e.g. 'time to start Python workers')."""
    _, sql = _stores(spark)
    out: dict[str, float] = {}
    for e in _seq(sql.executionsList()):
        if e.executionId() < m.sql:
            continue
        names = {pm.accumulatorId(): pm.name() for pm in _seq(e.metrics())}
        vals = sql.executionMetrics(e.executionId())
        it = vals.iterator()
        while it.hasNext():
            kv = it.next()
            name = names.get(kv._1())
            if name is not None:
                out[name] = out.get(name, 0.0) + _metric_value(kv._2())
    return out


def busy_union_s(jobs: list[Job]) -> float:
    """Seconds covered by the union of the jobs' [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j.start):
        if cur_e is None or j.start > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = j.start, j.end
        else:
            cur_e = max(cur_e, j.end)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- /proc ---------------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Steal:
    """CPU-steal share of all CPU time between construction and share()."""

    def __init__(self):
        self._t0 = _cpu_times()

    def share(self) -> float:
        d = [b - a for a, b in zip(self._t0, _cpu_times())]
        total = sum(d[:8])  # user..steal; guest time is already in user
        return d[7] / total if total and len(d) > 7 else 0.0


def _worker_pids() -> list[int]:
    """Python worker processes of the local Spark executor (forked from
    `pyspark.daemon`)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak VmRSS of any one Python worker, sampled while running. Workers
    are reused across jobs, so VmHWM would carry earlier runs' peaks."""

    def __init__(self, period_s: float = 0.02):
        self._period = period_s
        self._stop = threading.Event()
        self._peak_kib = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, refreshed = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - refreshed > 0.25:  # new workers fork during a job
                pids, refreshed = _worker_pids(), now
            for p in pids:
                self._peak_kib = max(self._peak_kib, _rss_kib(p))
            self._stop.wait(self._period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mib(self) -> float:
        return self._peak_kib / 1024.0
