"""The fused QA DAG: scope filters → salted repartition → all stages in one
pass → chunked checkpointed sink + per-partition metrics/lineage.

Physical shape (the properties that carry to 1000 executors / 100 TB):
- ONE scan feeds all stages (reference's shared scan, main.py:130-136):
  stages only add columns, so the whole DAG is a single narrow pipeline —
  scan → project(+pandas UDFs) → write. No shuffle except the deliberate
  salted repartition.
- Scope filters (warc_ts window = Period, lang cohort = Region) are applied
  before anything else → parquet/Iceberg pushdown + partition pruning.
- `html` is dropped immediately unless a stage needs it (column pruning
  discipline; the scan never materialises it for text-only runs).
- Metrics are computed per Spark partition inside the same pass (the
  write-audit sink, plans/sink.py) and committed in each chunk's manifest;
  `checkpoint.publish` derives the metrics and lineage tables from the
  manifests — the analogue of the reference's extraction artifacts
  (mixins/extractions.py:42-62), each written once.
"""

from __future__ import annotations

import logging
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import (
    chunk_files,
    chunk_path,
    completed_chunks,
    fetch_chunk,
    mark_chunk_done,
    publish,
)
from .config import QAConfig
from .sink import qa_sink
from .skew import detect_hot_hosts, salted_repartition
from .stages import FUSED_STAGES, STAGES

log = logging.getLogger(__name__)


def _metrics_records(pdf) -> list[dict]:
    """Chunk metrics rows as JSON-safe records for the chunk manifest."""
    import pandas as pd

    recs = pdf.to_dict("records")
    for r in recs:
        for k, v in r.items():
            r[k] = None if pd.isna(v) else str(v) if k in ("ts_min", "ts_max") else v
    return recs


def commit_chunks(
    out_dir: str,
    chunks: list[int],
    metrics_pdf,
    cfg_hash: str,
    n_hot_hosts: int,
    wall_s: float,
    data_dir: str | None = None,
    **extra,
) -> int:
    """Commit each chunk's manifest — data file list, metrics rows and
    lineage fields — once its data is written (under `data_dir`, default
    `out_dir`). Returns the rows committed."""
    total = 0
    for c in chunks:
        pdf = metrics_pdf[metrics_pdf["chunk"] == c]
        rows = int(pdf["n_docs"].sum())
        mark_chunk_done(
            out_dir,
            c,
            {
                "rows": rows,
                "config_hash": cfg_hash,
                "stages": [s.name for s in STAGES],
                "files": chunk_files(data_dir or out_dir, c),
                "metrics": _metrics_records(pdf),
                "n_hot_hosts": n_hot_hosts,
                "wall_s": wall_s,
                **extra,
            },
        )
        total += rows
    return total


def _bucketize_staging(
    spark: SparkSession, df: DataFrame, out_dir: str, cfg: QAConfig
) -> DataFrame:
    """One bucket-partitioned staging write of the scoped input, so chunk
    filters prune at the directory level (see call site). Shuffle-free: the
    write is a narrow map + partitioned-file sink. Reused across resumes
    via the parquet _SUCCESS marker; keyed by n_chunks so a config change
    re-stages rather than mis-pruning."""
    staging = os.path.join(out_dir, f"_staging_bucket{cfg.n_chunks}")
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        # df already carries the runtime bucket column (call-site contract)
        df.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    if not any(n.startswith("bucket=") for n in os.listdir(staging)):
        # empty scoped corpus: no partition dirs to read (schema inference
        # would fail) and nothing to prune — keep the runtime column
        return df
    return spark.read.parquet(staging)


def scope_filter(df: DataFrame, cfg: QAConfig) -> DataFrame:
    """Period + Region analogues; both push down to the scan."""
    if cfg.window is not None:
        lo, hi = cfg.window
        df = df.filter(
            F.col("warc_ts").between(F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp"))
        )
    if cfg.cohort_langs is not None:
        df = df.filter(F.col("lang").isin(*cfg.cohort_langs))
    # tolerant-time semantics (reference: unparseable → NaT → dropped,
    # mixins/extractions.py:82-84)
    return df.filter(F.col("warc_ts").isNotNull())


def apply_stages(df: DataFrame, cfg: QAConfig, fused: bool = True) -> DataFrame:
    """Fused (default): the three Python stages run as ONE pandas UDF —
    one Arrow transfer of `text` per batch instead of three. The unfused
    path keeps per-stage physical separation — the reference surface the
    fused kernel is tested against."""
    for stage in (FUSED_STAGES if fused else STAGES):
        df = stage.apply(df, cfg)
    # derived columns: `scrub_delta` is the stored form (changed docs only);
    # the full scrubbed column is a JVM-side coalesce, never shipped or
    # persisted twice
    return df.withColumns(
        {
            "scrubbed": F.col("scrub_delta").isNotNull(),
            "text_scrubbed": F.coalesce(F.col("scrub_delta"), F.col("text")),
        }
    )


def _metric_aggs(cfg: QAConfig) -> list:
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
        F.round(F.avg("ppl"), 4).alias("avg_ppl"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.sum(
            F.when(F.col("n_words") < cfg.min_words, 1).otherwise(0)
        ).alias("trip_short"),
        F.sum(
            F.when(F.col("symbol_ratio") > cfg.max_symbol_ratio, 1).otherwise(0)
        ).alias("trip_symbol"),
        F.sum(F.when(F.col("scrubbed"), 1).otherwise(0)).alias("n_scrubbed"),
        F.min("warc_ts").alias("ts_min"),
        F.max("warc_ts").alias("ts_max"),
        # raw sums for exact rollups (F.sum/F.count skip nulls, matching
        # the sink's dropna accumulators)
        F.sum("ppl").alias("ppl_sum"),
        F.count("ppl").alias("ppl_n"),
        F.sum("n_words").alias("words_sum"),
        F.count("n_words").alias("words_n"),
    ]


def run_qa(
    spark: SparkSession,
    pages: DataFrame,
    cfg: QAConfig,
    out_dir: str,
    resume: bool = True,
    with_html: bool = False,
    hot_hosts: list[str] | None = None,
    cache_base: str | None = None,
    hot_hosts_fn=None,
) -> dict:
    """Run the full QA DAG with chunked checkpointing.

    Chunks without a manifest are scored by the write-audit sink (one
    `qa_sink` job per chunk in "chunked" mode, one job over all of them in
    "single_pass" mode), each chunk's manifest commits after its job, and
    a final `publish` derives the metrics and lineage tables from the
    manifests. A crash at any point leaves the uncommitted chunks to the
    next call, which re-runs exactly those and publishes again.

    `hot_hosts_fn`: optional lazy provider for corpus-level skew stats —
    called ONLY if this run actually reaches the compute path (a run fully
    satisfied by resume or cache fetch never pays the detection scan).
    run_grid passes a memoized provider so a grid detects at most once.

    Returns a summary dict: chunks run/skipped/fetched, rows, wall seconds.
    The scored corpus lands in out_dir/data/chunk=K/; per-partition metrics
    in out_dir/metrics/; one lineage row per chunk in out_dir/lineage/.

    `cache_base`: optional shared artifact cache (path or http(s)/file URL
    mirroring an out_dir layout) — completed chunks with a matching config
    hash are fetched instead of computed (the reference's remote-fetch skip,
    mixins/extractions.py:16-28).
    """
    t0 = time.time()
    df = scope_filter(pages, cfg)
    if cfg.extract_from_html:
        # raw-capture entry: derive text from html in the map stage (pure
        # JVM regexp exprs — functions/extract.py); html bytes never reach
        # a shuffle or Python
        from ..functions.extract import extract_text_expr

        df = df.withColumn("text", extract_text_expr(F.col("html")))
    if not with_html:
        # column-pruning discipline: text stages must never scan html bytes
        df = df.drop("html")

    cfg_hash = cfg.config_hash()
    done = completed_chunks(out_dir) if resume else set()
    fetched: list[int] = []
    if resume and cache_base and len(done) < cfg.n_chunks:
        for c in range(cfg.n_chunks):
            if c not in done and fetch_chunk(out_dir, c, cache_base, cfg_hash):
                fetched.append(c)
        done = completed_chunks(out_dir)
    todo = [c for c in range(cfg.n_chunks) if c not in done]
    skipped = sorted(done - set(fetched))
    log.info("run_qa %s: skipped chunks %s, fetched %s, running %s",
             out_dir, skipped, fetched, todo)

    # a fully-resumed run computes nothing (and needs no skew stats) — the
    # reference's exists()-skip, main.py:126-128
    hot, total_rows = hot_hosts or [], 0
    if todo:
        # host skew statistics: pass precomputed stats (corpus-level,
        # computed once per table — the Iceberg-table-statistics analogue)
        # or detect now
        if hot_hosts is None:
            hot = hot_hosts_fn() if hot_hosts_fn else detect_hot_hosts(df, cfg.hot_host_frac)
            log.info("run_qa %s: hot hosts %s", out_dir, hot)
        pre_bucketed = "bucket" in df.columns
        if not pre_bucketed:
            df = df.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.n_chunks)))
        # else: input is pre-bucketed on pmod(xxhash64(url), n_chunks) —
        # chunk filters hit the partition column and prune the scan (Iceberg
        # bucket-partition analogue). Contract: bucket count == n_chunks.
        # single_pass: one job over every missing chunk; chunked: one job
        # per chunk, so a killed run loses at most the chunks in flight
        batches = [todo] if cfg.checkpoint_mode == "single_pass" else [[c] for c in todo]
        if len(batches) > 1 and not pre_bucketed:
            # chunked mode over NON-pre-bucketed input: a runtime-computed
            # bucket column cannot prune the scan, so the chunk loop would
            # re-scan the whole corpus once per chunk (n_chunks× read
            # amplification). Auto-bucketize ONCE: one staging write
            # partitioned by bucket; every chunk job then reads only its
            # bucket=K directory (VERDICT r2 #5). Total input bytes across
            # chunk jobs ≈ 1× corpus (+ the staging write) instead of
            # n_chunks× — the dominant term at 100 TB. The staging is
            # resumable (_SUCCESS-gated) and lives under out_dir, so its
            # lifetime matches the run's artifacts.
            df = _bucketize_staging(spark, df, out_dir, cfg)
        args = (df, cfg, out_dir, hot, cfg_hash)
        conc = max(1, cfg.n_concurrent_chunks)
        if conc == 1 or len(batches) == 1:
            total_rows = sum(_run_chunks(b, *args) for b in batches)
        else:
            # job-level parallelism: chunk jobs are independent (disjoint
            # url buckets, own manifests), so submitting several at once
            # lets the Spark scheduler pipeline one chunk's straggler tail
            # with the next chunk's map stage — on a large cluster serial
            # submission leaves executors idle during every chunk's tail.
            # Resume granularity is unchanged: each chunk still commits its
            # own manifest.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=conc) as ex:
                futs = [ex.submit(_run_chunks, b, *args) for b in batches]
                total_rows = sum(f.result() for f in futs)  # re-raises
    publish(out_dir)
    return {
        "chunks_run": todo,
        "chunks_skipped": skipped,
        "chunks_fetched": fetched,
        "rows": total_rows,
        "wall_s": round(time.time() - t0, 3),
        "hot_hosts": hot,
        "config_hash": cfg_hash,
    }


def _run_chunks(
    chunks: list[int],
    df: DataFrame,
    cfg: QAConfig,
    out_dir: str,
    hot: list[str],
    cfg_hash: str,
) -> int:
    """ONE write-audit sink job (plans/sink.py) scores `chunks` — writing
    their data/chunk=K/ files and returning the partition metrics, no
    second job, no read-back — then each chunk's manifest commits. Returns
    the rows committed. Thread-safe by construction: each chunk owns its
    data dir and manifest file."""
    t_job = time.time()
    part = df
    if len(chunks) < cfg.n_chunks:
        part = df.filter(F.col("bucket").isin(chunks))
    part = salted_repartition(
        part.withColumnRenamed("bucket", "chunk"), cfg.n_partitions, hot, cfg.n_salts
    )
    # overwrite semantics: clear any uncommitted output of a prior crashed
    # attempt (a committed chunk has a manifest and never gets here)
    for c in chunks:
        shutil.rmtree(chunk_path(out_dir, c), ignore_errors=True)
    metrics_pdf = qa_sink(part, out_dir, cfg).toPandas()
    wall = round(time.time() - t_job, 3)
    return commit_chunks(out_dir, chunks, metrics_pdf, cfg_hash, len(hot), wall)


def read_scored(spark: SparkSession, out_dir: str) -> DataFrame:
    """Scored corpus with the full scrubbed column reconstructed from the
    stored delta (byte-identical: unchanged docs coalesce to `text`)."""
    df = spark.read.parquet(f"{out_dir}/data")
    if "text_scrubbed" not in df.columns and "scrub_delta" in df.columns:
        df = df.withColumn(
            "text_scrubbed", F.coalesce(F.col("scrub_delta"), F.col("text"))
        )
    return df
