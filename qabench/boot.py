"""Session start-up as the benchmark measures it (`setup_s`): from process
start until a `session.get_spark` session has finished one trivial
`mapInPandas` job, i.e. JVM start plus the Python worker fork.
"""

from __future__ import annotations

import os
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".qabench_work")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter's own start-up and imports are included)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def ncores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _drain(batches):
    for pdf in batches:
        yield pdf


def start_session():
    """`session.get_spark` on local[nproc], then one trivial mapInPandas
    job. Returns (spark, seconds spent in get_spark)."""
    from isimip_qa_spark.session import get_spark

    prepare_env()
    n = ncores()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="qabench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.environ["TMPDIR"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 2 * n, 1, n).mapInPandas(_drain, "id long").collect()
    return spark, start_s


def _children() -> dict[int, list[int]]:
    """Live processes by parent pid (zombies count as ended)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z":
                kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def _descendants(pid: int) -> set[int]:
    kids, out, todo = _children(), set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def stop(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then the JVM it runs in and the Python workers
    that JVM forked, and wait until each process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc else set()
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while workers & set().union(*_children().values()):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Python workers still running: {sorted(workers)}")
        time.sleep(0.05)
