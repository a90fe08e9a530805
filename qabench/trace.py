"""The traced run: a ladder of cumulative prefix jobs built from each
layer's public function, and the per-layer ledger read from Spark's status
store around each rung.

Rungs (each ends in a noop sink or a collect):
  scan      scope_filter (+ drop html), text read from the input column
  extract   scope_filter + extract_text_expr (html workloads only)
  exchange  + salted_repartition on the run's hot hosts
  crossing  + mapInPandas that only drains batches (JVM -> Arrow -> pandas)
  kernel    + mapInPandas over qa_fused._fused_series
  sink      sink.qa_sink (assemble, keep, parquet write)
then the real run_qa. A layer's cost is the difference in executor core
time between consecutive rungs; `unattributed` is what the real run spent
beyond the sum of the layers.

Spans (name, start, end, parent, run id) are kept in memory and written
out when the run ends: the run, its rungs and in-process calls, and the
Spark jobs inside each, attributed to package functions by the Python call
site pyspark records for every job.
"""

from __future__ import annotations

import ast
import functools
import os
import re
import shutil
import statistics
import time
import uuid

from . import sparkstats as ss
from .workloads import dir_bytes

PKG_ROOT_NAME = "isimip_qa_spark"

# Per-layer metrics (--trace 1), by module. "us/doc" is executor run time
# per input doc (µs per doc·core) unless the name says 1core.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.py_worker_start_s": "s",
    "pipeline.scan_us_per_doc": "us/doc",
    "pipeline.scan_bytes_per_doc": "B/doc",
    "extract.us_per_doc": "us/doc",
    "skew.detect_s": "s",
    "skew.exchange_us_per_doc": "us/doc",
    "skew.shuffle_bytes_per_doc": "B/doc",
    "skew.task_max_over_median": "ratio",
    "skew.n_hot_hosts": "count",
    "sink.crossing_us_per_doc": "us/doc",
    "sink.bytes_to_python_per_doc": "B/doc",
    "qa_fused.kernel_us_per_doc": "us/doc",
    "qa_fused.kernel_us_per_doc_1core": "us/doc",
    "sink.assemble_write_us_per_doc": "us/doc",
    "sink.keep_us_per_doc_1core": "us/doc",
    "sink.write_us_per_doc_1core": "us/doc",
    "sink.out_bytes_per_doc": "B/doc",
    "sink.py_worker_init_s": "s",
    "pipeline.driver_s": "s",
    "pipeline.jobs_per_run": "count",
    "pipeline.staging_s": "s",
    "pipeline.staging_bytes_per_doc": "B/doc",
    "checkpoint.artifact_files": "count",
    "checkpoint.recompute_ratio": "ratio",
    "checkpoint.noop_resume_s": "s",
    "engine.core_us_per_doc": "us/doc",
    "engine.gc_ms_per_kdoc": "ms/kdoc",
    "ledger.unattributed_us_per_doc": "us/doc",
    "trace.overhead_s": "s",
}


class Spans:
    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.items: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        sid = len(self.items)
        self.items.append(
            {"id": sid, "name": name, "start": time.time(), "end": None,
             "parent": self._stack[-1] if self._stack else None,
             "run_id": self.run_id, **attrs}
        )
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> float:
        self._stack.remove(sid)
        it = self.items[sid]
        it["end"] = time.time()
        return it["end"] - it["start"]

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> None:
        self.items.append(
            {"id": len(self.items), "name": name, "start": start, "end": end,
             "parent": parent, "run_id": self.run_id, **attrs}
        )


@functools.lru_cache(maxsize=None)
def _functions_of(path: str) -> list[tuple[int, int, str]]:
    """(first line, last line, qualified name) of every def in a file."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []

    def walk(node, prefix):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = f"{prefix}{ch.name}"
                out.append((ch.lineno, ch.end_lineno, name))
                walk(ch, name + ".")
            elif isinstance(ch, ast.ClassDef):
                walk(ch, f"{prefix}{ch.name}.")

    walk(tree, "")
    return out


_SITE = re.compile(r" at (\S+\.py):(\d+)")


def owner(job_name: str) -> str:
    """The package function a job was submitted from, e.g.
    'plans.pipeline.run_qa._run_one_chunk', from pyspark's call site."""
    m = _SITE.search(job_name)
    if not m:  # a JVM-side call site, e.g. a DataFrameWriter save
        return "jvm:" + job_name.split(" at ")[0]
    path, line = m.group(1), int(m.group(2))
    parts = path.replace(os.sep, "/").split("/")
    if PKG_ROOT_NAME in parts:
        mod = ".".join(parts[parts.index(PKG_ROOT_NAME) + 1:])[: -len(".py")]
    else:
        mod = os.path.basename(path)[: -len(".py")]
    best = None
    try:
        for lo, hi, name in _functions_of(path):
            if lo <= line <= hi and (best is None or lo >= best[0]):
                best = (lo, name)
    except OSError:
        pass
    return f"{mod}.{best[1]}" if best else mod


class Probe:
    """Runs a block, then reads the Spark jobs/stages/SQL metrics it caused
    and records a span for it and for each of its jobs."""

    def __init__(self, spark, spans: Spans, name: str, tasks: bool = False):
        self.spark, self.spans, self.name, self.tasks = spark, spans, name, tasks

    def __enter__(self) -> "Probe":
        self.mark = ss.mark(self.spark)
        self.sid = self.spans.open(self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.wall = self.spans.close(self.sid)
        self.jobs = ss.jobs_since(self.spark, self.mark)
        self.stages = ss.stages_of(self.spark, self.jobs, tasks=self.tasks)
        self.sql = ss.sql_metrics_since(self.spark, self.mark)
        for j in self.jobs:
            self.spans.add(f"job:{owner(j.name)}", j.start, j.end, self.sid,
                           job_id=j.job_id, call_site=j.name)

    @property
    def core_ms(self) -> float:
        return float(sum(s.run_ms for s in self.stages))

    def sum(self, attr: str) -> float:
        return float(sum(getattr(s, attr) for s in self.stages))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drain_count(batches):
    import pandas as pd

    n = 0
    for pdf in batches:
        n += len(pdf)
    yield pd.DataFrame({"n": [n]})


def _kernel_count(batches):
    import pandas as pd

    from isimip_qa_spark.functions.qa_fused import _fused_series

    n = 0
    for pdf in batches:
        n += len(_fused_series(pdf["text"]))
    yield pd.DataFrame({"n": [n]})


def _rung(spark, spans: Spans, name: str, fn, reps: int) -> Probe:
    """Run one rung `reps` times; the probe with the median core time."""
    probes = []
    for _ in range(reps):
        with Probe(spark, spans, name) as p:
            fn()
        probes.append(p)
    return sorted(probes, key=lambda p: p.core_ms)[len(probes) // 2]


def ladder(spark, pages, cfg, n_rows: int, work: str, spans: Spans, reps: int = 3) -> dict:
    """Run the prefix rungs; returns the per-layer part of the ledger in
    µs per input doc·core (plus the bytes and counts read alongside)."""
    from pyspark.sql import functions as F

    from isimip_qa_spark.functions.extract import extract_text_expr
    from isimip_qa_spark.plans.pipeline import _bucketize_staging, scope_filter
    from isimip_qa_spark.plans.sink import qa_sink
    from isimip_qa_spark.plans.skew import detect_hot_hosts, salted_repartition

    per = 1e3 / n_rows  # core ms → µs/doc
    scoped = scope_filter(pages, cfg)
    base = scoped.drop("html")
    if cfg.extract_from_html:
        base = scoped.withColumn("text", extract_text_expr(F.col("html"))).drop("html")

    scan = _rung(spark, spans, "rung:scan", lambda: _noop(scoped.drop("html")), reps)
    prev, extract_us = scan, 0.0
    if cfg.extract_from_html:
        prev = _rung(spark, spans, "rung:extract", lambda: _noop(base), reps)
        extract_us = (prev.core_ms - scan.core_ms) * per
    with Probe(spark, spans, "call:skew.detect_hot_hosts") as det:
        hot = detect_hot_hosts(base, cfg.hot_host_frac)
    bucketed = base.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.n_chunks)))
    staging_s = staging_bytes = 0.0
    if cfg.checkpoint_mode == "chunked":  # run_qa stages the scoped input first
        stage_out = os.path.join(work, "ladder_staging")
        shutil.rmtree(stage_out, ignore_errors=True)
        os.makedirs(stage_out)
        with Probe(spark, spans, "call:pipeline._bucketize_staging") as stg:
            _bucketize_staging(spark, bucketed, stage_out, cfg)
        staging_s, staging_bytes = stg.wall, dir_bytes(stage_out)
        shutil.rmtree(stage_out, ignore_errors=True)
    part = salted_repartition(
        bucketed.withColumnRenamed("bucket", "chunk"), cfg.n_partitions, hot, cfg.n_salts
    )
    exch = _rung(spark, spans, "rung:exchange", lambda: _noop(part), reps)
    cross = _rung(spark, spans, "rung:crossing",
                  lambda: part.mapInPandas(_drain_count, "n long").collect(), reps)
    kern = _rung(spark, spans, "rung:kernel",
                 lambda: part.mapInPandas(_kernel_count, "n long").collect(), reps)
    sink_out = os.path.join(work, "ladder_sink")

    def sink_rung():
        shutil.rmtree(sink_out, ignore_errors=True)
        qa_sink(part, sink_out, cfg).toPandas()

    sink = _rung(spark, spans, "rung:sink", sink_rung, reps)
    out_bytes = dir_bytes(os.path.join(sink_out, "data"))
    shutil.rmtree(sink_out, ignore_errors=True)
    layers = {
        "pipeline.scan_us_per_doc": scan.core_ms * per,
        "extract.us_per_doc": extract_us,
        "skew.detect_us_per_doc": det.core_ms * per,
        "skew.exchange_us_per_doc": (exch.core_ms - prev.core_ms) * per,
        "sink.crossing_us_per_doc": (cross.core_ms - exch.core_ms) * per,
        "qa_fused.kernel_us_per_doc": (kern.core_ms - cross.core_ms) * per,
        "sink.assemble_write_us_per_doc": (sink.core_ms - kern.core_ms) * per,
    }
    return {
        "layers": layers,
        "skew.detect_s": det.wall,
        "skew.shuffle_bytes_per_doc": exch.sum("shuffle_write_bytes") / n_rows,
        "sink.bytes_to_python_per_doc": cross.sql.get("data sent to Python workers", 0.0) / n_rows,
        "sink.out_bytes_per_doc": out_bytes / n_rows,
        "pipeline.staging_s": staging_s,
        "pipeline.staging_bytes_per_doc": staging_bytes / n_rows,
        "n_hot_hosts": len(hot),
    }


def in_process(in_path: str, cfg, work: str, spans: Spans, n: int = 4096, reps: int = 5) -> dict:
    """One-core costs without Spark: the fused kernel, the keep decision
    and the parquet write, over the first Arrow batch (4096 rows, the
    session's maxRecordsPerBatch) of the input table; median of `reps`."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from isimip_qa_spark.functions.qa_fused import _fused_series
    from isimip_qa_spark.plans.sink import _OUT_COLS, _keep_series, _make_writer, _pa_schema

    frame = ds.dataset(in_path).head(n, columns=["url", "warc_ts", "text", "lang"]).to_pandas()
    frame["warc_ts"] = frame["warc_ts"].astype("datetime64[us]")
    n = len(frame)
    stats = _fused_series(frame["text"])  # also warms the model tables

    def median_us(name, fn):
        ts = []
        for _ in range(reps):
            sid = spans.open(name)
            fn()
            ts.append(spans.close(sid))
        return statistics.median(ts) * 1e6 / n

    kernel = median_us("call:qa_fused._fused_series", lambda: _fused_series(frame["text"]))
    for c in stats.columns:
        frame[c] = stats[c]
    frame["scrubbed"] = frame["scrub_delta"].notna()
    keep = median_us("call:sink._keep_series", lambda: _keep_series(frame, cfg))
    frame["keep"] = _keep_series(frame, cfg)
    schema = _pa_schema()
    path = os.path.join(work, "write_probe.parquet")
    table = pa.Table.from_pandas(frame[[c for c, _ in _OUT_COLS]], schema=schema,
                                 preserve_index=False)

    def write():
        w = _make_writer(pq, path, schema)
        w.write_table(table)
        w.close()

    wr = median_us("call:parquet write", write)
    os.remove(path)
    return {
        "qa_fused.kernel_us_per_doc_1core": kernel,
        "sink.keep_us_per_doc_1core": keep,
        "sink.write_us_per_doc_1core": wr,
    }


def traced_run(spark, w, seed, work, inputs, cfg, pages, oracle, results, setup_sql,
               start_s, spans):
    """The traced run: ladder rungs, the real run_qa under the probe, and
    the per-layer metrics and ledger assembled from them. Returns
    (metrics, ledger, output-check problems of the traced run)."""
    from isimip_qa_spark.plans import run_qa

    from .workloads import check_outputs, drop_manifests

    n = inputs.n_rows
    lad = ladder(spark, pages, cfg, n, work, spans)
    out = os.path.join(work, "out")
    # the real (fresh) run: like the rungs, repeated and the median kept,
    # except in chunked mode, where one run takes ~10 s
    runs = []
    for _ in range(1 if cfg.checkpoint_mode == "chunked" else 3):
        shutil.rmtree(out, ignore_errors=True)
        with Probe(spark, spans, "run_qa", tasks=True) as real:
            t0 = time.perf_counter()
            run_qa(spark, pages, cfg, out)
            fresh_wall = time.perf_counter() - t0
        runs.append((real.core_ms, real, fresh_wall))
    _, real, fresh_wall = sorted(runs, key=lambda r: r[0])[len(runs) // 2]
    dropped = drop_manifests(out, cfg, seed)
    with Probe(spark, spans, "run_qa:resume"):
        rerun = run_qa(spark, pages, cfg, out)["chunks_run"]
    noop = []
    for _ in range(5):
        t0 = time.perf_counter()
        run_qa(spark, pages, cfg, out)
        noop.append(time.perf_counter() - t0)
    problems = check_outputs(out, inputs, oracle, cfg)
    owners = [owner(j.name) for j in real.jobs]
    shuffled = [s for s in real.stages if s.shuffle_read_bytes and s.task_run_ms]
    top = max(shuffled, key=lambda s: s.run_ms, default=None)
    core_us = real.core_ms * 1e3 / n
    driver_s = real.wall - ss.busy_union_s(real.jobs)
    layers = dict(lad["layers"])
    unattributed = core_us - sum(layers.values())
    n_files = sum(len(fs) for _, _, fs in os.walk(out))
    metrics = {
        "session.start_s": start_s,
        "session.py_worker_start_s": setup_sql.get("time to start Python workers", 0.0)
        + setup_sql.get("time to initialize Python workers", 0.0),
        "pipeline.scan_us_per_doc": layers["pipeline.scan_us_per_doc"],
        "pipeline.scan_bytes_per_doc": real.sql.get("size of files read", 0.0) / n,
        "extract.us_per_doc": layers["extract.us_per_doc"],
        "skew.detect_s": lad["skew.detect_s"],
        "skew.exchange_us_per_doc": layers["skew.exchange_us_per_doc"],
        "skew.shuffle_bytes_per_doc": lad["skew.shuffle_bytes_per_doc"],
        "skew.task_max_over_median": (
            max(top.task_run_ms) / max(statistics.median(top.task_run_ms), 1)
            if top else 0.0
        ),
        "skew.n_hot_hosts": float(lad["n_hot_hosts"]),
        "sink.crossing_us_per_doc": layers["sink.crossing_us_per_doc"],
        "sink.bytes_to_python_per_doc": lad["sink.bytes_to_python_per_doc"],
        "qa_fused.kernel_us_per_doc": layers["qa_fused.kernel_us_per_doc"],
        "sink.assemble_write_us_per_doc": layers["sink.assemble_write_us_per_doc"],
        "sink.out_bytes_per_doc": lad["sink.out_bytes_per_doc"],
        "sink.py_worker_init_s": real.sql.get("time to initialize Python workers", 0.0),
        "pipeline.driver_s": driver_s,
        "pipeline.jobs_per_run": float(len(real.jobs)),
        "pipeline.staging_s": lad["pipeline.staging_s"],
        "pipeline.staging_bytes_per_doc": lad["pipeline.staging_bytes_per_doc"],
        "checkpoint.artifact_files": float(n_files),
        "checkpoint.recompute_ratio": len(rerun) / len(dropped),
        "checkpoint.noop_resume_s": statistics.median(noop),
        "engine.core_us_per_doc": core_us,
        "engine.gc_ms_per_kdoc": real.sum("gc_ms") * 1e3 / n,
        "ledger.unattributed_us_per_doc": unattributed,
        "trace.overhead_s": fresh_wall - statistics.median(r.fresh_wall_s for r in results),
    }
    metrics.update(in_process(inputs.path, cfg, work, spans))
    # the driver is one thread: its seconds count once per doc on both sides
    driver_us = driver_s * 1e6 / n
    total = core_us + driver_us
    ledger = {
        "workload": w.name,
        "seed": seed,
        "unit": "us per input doc-core (executor run time / input rows)",
        "layers": layers,
        "pipeline.driver_us_per_doc": driver_us,
        "unattributed": unattributed,
        "run_qa_us_per_doc": total,
        "layers_plus_driver_us_per_doc": sum(layers.values()) + driver_us,
        "reconcile_frac": abs(unattributed) / total if total else None,
        "job_owners": sorted(set(owners)),
        "n_hot_hosts": lad["n_hot_hosts"],
        "sql_metrics_of_real_run": real.sql,
    }
    return metrics, ledger, problems
