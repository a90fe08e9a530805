"""The benchmark's workloads and the timed operation each one repeats.

Every operation calls `plans.run_qa` with the `QAConfig` that `cli.main`
builds from the workload's command-line flags, on a plain input table,
with hot-host detection inside the call, then checks the outputs.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pandas as pd

from . import inputs as inp
from .sparkstats import RssSampler


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_docs: int  # input-table rows
    cli_flags: tuple  # the `cli.main` flags this workload runs with
    hot_frac: float = 0.0  # share of rows moved onto one host
    warmup_s: float = 0.0  # untimed operations on the real input first


# Why each workload exists (NOTES.md has the layer -> metric -> workload map).
WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "qa_fresh",
            "single_pass into a fresh dir, half the rows moved onto one host (2 hot "
            "hosts salted, 1 elsewhere): kernel, Arrow crossing and sink write dominate",
            n_docs=60_000,
            cli_flags=("--mode", "single_pass"),
            hot_frac=0.5,
            warmup_s=8.0,
        ),
        Workload(
            "qa_crash_resume",
            "16 chunks, half the manifests dropped, then resume: per-job "
            "cost, staging, driver commit and the checkpoint read path",
            n_docs=20_000,
            cli_flags=("--chunks", "16"),
        ),
        Workload(
            "qa_html_scoped",
            "html extraction under a 7-day window and 2-language cohort: "
            "scan, scope filter and JVM extraction dominate, kernel is small",
            n_docs=100_000,
            cli_flags=(
                "--mode", "single_pass", "--from-html",
                "--window", "2024-01-08:2024-01-15", "--langs", "es,de",
            ),
            warmup_s=10.0,
        ),
    ]
}

WARMUP_DOCS = 8_000

# End-to-end metrics (--trace 0); each is the median over a run's operations
# except the worker peak, which is the run's maximum.
E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "resume_s": "s",
    "stored_bytes_per_doc": "B/doc",
    "metrics_docs_per_row": "ratio",
    "worker_peak_rss_mb": "MiB",
}


def qa_config(w: Workload, n_partitions: int):
    """The QAConfig `cli.main` builds from the workload's flags, with
    `n_partitions` standing in for the session's default parallelism.
    `cli_check` compares it with the one `cli.main` itself runs with."""
    from isimip_qa_spark import cli
    from isimip_qa_spark.plans import QAConfig

    args = cli.build_parser().parse_args(["--input", "-", "--output", "-", *w.cli_flags])
    return QAConfig(
        n_chunks=args.chunks,
        n_partitions=args.partitions or n_partitions,
        checkpoint_mode=args.mode,
        window=cli._parse_window(args.window),
        cohort_langs=tuple(args.langs.split(",")) if args.langs else None,
        extract_from_html=args.from_html,
        lang_profiles=cli._parse_lang_profiles(args.lang_profiles),
    )


def cli_check(w: Workload, cfg, in_path: str, out_dir: str, n_chunks: int) -> list[str]:
    """Run `cli.main` itself once on `in_path` with the workload's flags
    (and `--chunks n_chunks`); problems ([] = none) if the config hash it
    reports differs from `qa_config`'s, i.e. if the timed `run_qa` calls
    no longer get the QAConfig the command line builds. `cli.main`'s
    `getOrCreate` reuses the benchmark's session."""
    from isimip_qa_spark import cli

    shutil.rmtree(out_dir, ignore_errors=True)
    printed = io.StringIO()
    with contextlib.redirect_stdout(printed):
        cli.main(["--input", in_path, "--output", out_dir, *w.cli_flags,
                  "--chunks", str(n_chunks)])
    got = json.loads(printed.getvalue().strip().splitlines()[-1])["config_hash"]
    want = dataclasses.replace(cfg, n_chunks=n_chunks).config_hash()
    if got != want:
        return [f"cli.main ran with config {got}, the benchmark's QAConfig is {want}"]
    return []


def prepare_inputs(w: Workload, cfg, cache_dir: str, seed: int, n: int | None = None):
    return inp.prepare(cache_dir, w.name, seed, n or w.n_docs, hot_frac=w.hot_frac,
                       window=cfg.window, langs=cfg.cohort_langs)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def drop_manifests(out_dir: str, cfg, seed: int) -> list[int]:
    """The on-disk state of a driver crash after the metrics append and
    before the manifest commit: in chunked mode a seed-chosen half of the
    chunks lose their manifests; a single pass commits every manifest at
    its end, so there all of them are lost."""
    from isimip_qa_spark.plans.checkpoint import manifest_dir

    n_chunks = cfg.n_chunks
    n_drop = n_chunks if cfg.checkpoint_mode == "single_pass" else n_chunks // 2
    drop = sorted(int(c) for c in inp.rng(seed, 3).choice(n_chunks, n_drop, replace=False))
    for c in drop:
        os.remove(os.path.join(manifest_dir(out_dir), f"chunk_{c}.json"))
    return drop


# --- output check --------------------------------------------------------


def _data_rows(out_dir: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for root, _, files in os.walk(os.path.join(out_dir, "data")):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


def metrics_docs(out_dir: str) -> int:
    """Σ metrics.n_docs over every metrics file the run left behind."""
    import pyarrow.parquet as pq

    mdir = os.path.join(out_dir, "metrics")
    return sum(
        int(pq.read_table(os.path.join(mdir, f), columns=["n_docs"])
            .column("n_docs").to_numpy().sum())
        for f in os.listdir(mdir) if f.endswith(".parquet")
    )


def oracle_frame(sample: pd.DataFrame, cfg) -> pd.DataFrame:
    """The pandas reference's verdict for the sampled docs."""
    from oracle.pandas_ref import qa_frame

    return qa_frame(sample, cfg)[["url", "text", "keep", "text_scrubbed"]]


def check_outputs(out_dir: str, inputs, oracle: pd.DataFrame, cfg) -> list[str]:
    """Problems with a finished run's outputs ([] = correct): every in-scope
    row written exactly once, every chunk committed, and on the sampled
    urls the keep verdict and scrubbed text (and, from html, the extracted
    text) equal to the pandas reference byte for byte."""
    import pyarrow.dataset as ds

    from isimip_qa_spark.plans.checkpoint import completed_chunks

    problems = []
    rows = _data_rows(out_dir)
    if rows != inputs.n_scope:
        problems.append(f"data rows {rows} != in-scope rows {inputs.n_scope}")
    done = completed_chunks(out_dir)
    if done != set(range(cfg.n_chunks)):
        problems.append(f"committed chunks {sorted(done)} != {cfg.n_chunks}")
    got = (
        ds.dataset(os.path.join(out_dir, "data"), format="parquet",
                   partitioning="hive")
        .to_table(
            columns=["url", "text", "scrub_delta", "keep"],
            filter=ds.field("url").isin(oracle["url"].tolist()),
        )
        .to_pandas()
    )
    got["text_scrubbed"] = got["scrub_delta"].where(got["scrub_delta"].notna(), got["text"])
    m = oracle.merge(got, on="url", how="left", suffixes=("_ref", ""), indicator=True)
    if len(got) != len(oracle) or (m["_merge"] != "both").any():
        problems.append(f"sampled urls found {len(got)} times, expected {len(oracle)}")
        return problems
    for col in ("keep", "text_scrubbed") + (("text",) if cfg.extract_from_html else ()):
        bad = m[m[col] != m[col + "_ref"]]
        if len(bad):
            problems.append(f"{col} differs from the reference on {len(bad)} sampled urls, "
                            f"e.g. {bad['url'].iloc[0]}")
    return problems


# --- the timed operation -------------------------------------------------


@dataclass
class OpResult:
    docs_per_s: float
    resume_s: float
    stored_bytes_per_doc: float
    metrics_docs_per_row: float
    worker_peak_rss_mb: float
    problems: list
    fresh_wall_s: float


def run_op(spark, pages, cfg, inputs, oracle, out_dir: str, seed: int) -> OpResult:
    """One fresh run_qa into an empty out_dir, then a simulated driver
    crash (`drop_manifests`) and the run_qa call that resumes from it."""
    from isimip_qa_spark.plans import run_qa

    shutil.rmtree(out_dir, ignore_errors=True)
    with RssSampler() as rss:
        t0 = time.perf_counter()
        run_qa(spark, pages, cfg, out_dir)
        fresh = time.perf_counter() - t0
        drop_manifests(out_dir, cfg, seed)
        t0 = time.perf_counter()
        run_qa(spark, pages, cfg, out_dir)
        resume = time.perf_counter() - t0
    rows = _data_rows(out_dir)
    return OpResult(
        docs_per_s=inputs.n_rows / fresh,
        resume_s=resume,
        stored_bytes_per_doc=dir_bytes(out_dir) / inputs.n_rows,
        metrics_docs_per_row=metrics_docs(out_dir) / rows if rows else float("inf"),
        worker_peak_rss_mb=rss.peak_mib,
        problems=check_outputs(out_dir, inputs, oracle, cfg),
        fresh_wall_s=fresh,
    )


def end_to_end(results: list[OpResult], setup_s: float) -> dict:
    def med(attr):
        return statistics.median(getattr(r, attr) for r in results)

    return {
        "setup_s": setup_s,
        "docs_per_s": med("docs_per_s"),
        "resume_s": med("resume_s"),
        "stored_bytes_per_doc": med("stored_bytes_per_doc"),
        "metrics_docs_per_row": med("metrics_docs_per_row"),
        "worker_peak_rss_mb": max(r.worker_peak_rss_mb for r in results),
    }
