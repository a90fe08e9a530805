"""Fixed CPU cost of each Python task, before and after a package UDF.

pyspark calls `importlib.invalidate_caches()` before every Python task; on
Python < 3.13 that re-reads every zip importer's archive listing unless
the package's lazy backport (isimip_qa_spark/_lazyzip.py) is installed,
which happens in a worker the first time it runs a package UDF. This
probe runs trivial 4-task mapInPandas jobs on fresh workers, warms the
workers with a UDF that imports the package, runs the same jobs again,
and prints:

- worker CPU per task: user+system CPU of the pyspark daemon and its
  forked workers (read from /proc, reaped workers included) over the
  jobs, divided by the tasks run;
- inside each warmed worker: the CPU of one `invalidate_caches()` call,
  and of reading every zip importer's listing once — what that call
  costs without the backport.

    python tools/probe_task_overhead.py [--jobs 10] [--cores 4]

Counts every pyspark daemon process on the host, so run it alone.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_TASKS = 4


def worker_cpu_s() -> float:
    """utime + stime + cutime + cstime of every `pyspark.daemon` process."""
    ticks = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while scanning
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def trivial(batches):
    for b in batches:
        yield b.iloc[:0]


def import_package(batches):
    import isimip_qa_spark  # noqa: F401

    yield from trivial(batches)


def invalidate_cost(batches):
    import importlib
    import os
    import sys
    import time
    import zipimport

    import pandas as pd

    t = time.process_time()
    importlib.invalidate_caches()
    lazy = time.process_time() - t
    importers = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter)
    ]
    read_s = {}
    for a in {v.archive for v in importers}:
        t = time.process_time()
        zipimport._read_directory(a)
        read_s[a] = time.process_time() - t
    eager = sum(read_s[v.archive] for v in importers)
    for _ in batches:
        pass
    yield pd.DataFrame({
        "pid": [os.getpid()],
        "zip_importers": [len(importers)],
        "invalidate_ms": [lazy * 1e3],
        "eager_invalidate_ms": [eager * 1e3],
    })


def per_task_cpu_ms(df, jobs: int) -> float:
    c0 = worker_cpu_s()
    for _ in range(jobs):
        df.mapInPandas(trivial, "id long").collect()
    return (worker_cpu_s() - c0) / (jobs * N_TASKS) * 1e3


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--jobs", type=int, default=10)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from isimip_qa_spark.session import get_spark

    spark = get_spark(app_name="probe-task-overhead",
                      master=f"local[{args.cores}]", shuffle_partitions=N_TASKS)
    df = spark.range(0, 4000, numPartitions=N_TASKS)
    df.mapInPandas(trivial, "id long").collect()  # start the workers
    cold = per_task_cpu_ms(df, args.jobs)
    df.mapInPandas(import_package, "id long").collect()
    warm = per_task_cpu_ms(df, args.jobs)
    inside = df.mapInPandas(
        invalidate_cost,
        "pid long, zip_importers long, invalidate_ms double, "
        "eager_invalidate_ms double",
    ).toPandas()
    spark.stop()

    print(f"Python {sys.version.split()[0]}, {args.jobs} jobs x {N_TASKS} tasks "
          f"per phase, local[{args.cores}]")
    print(f"worker CPU per task, before a package UDF: {cold:8.1f} ms")
    print(f"worker CPU per task, after a package UDF:  {warm:8.1f} ms")
    print(inside.to_string(index=False, float_format="%.3f"))
    print(json.dumps({
        "python": sys.version.split()[0],
        "worker_cpu_ms_per_task_before": round(cold, 1),
        "worker_cpu_ms_per_task_after": round(warm, 1),
        "invalidate_ms_median": round(float(inside["invalidate_ms"].median()), 3),
        "eager_invalidate_ms_median": round(
            float(inside["eager_invalidate_ms"].median()), 1
        ),
    }))


if __name__ == "__main__":
    main()
