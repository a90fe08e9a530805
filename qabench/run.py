"""Benchmark entry point.

    python3 qabench/run.py --workload qa_fresh --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Prints one JSON object as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, measured with
tracing off; with --trace 1 they are the per-layer metrics of a separate
traced run, whose ledger and spans are also written under .qabench_out/.
One process, local[nproc], closed loop: one run_qa call at a time.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import platform
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from qabench import boot  # noqa: E402

OUT = os.path.join(ROOT, ".qabench_out")


def log(msg: str) -> None:
    print(f"[qabench] {msg}", file=sys.stderr, flush=True)


def measure(spark, seed, seconds, work, inputs, cfg, pages, oracle, min_ops=1):
    """Closed loop of timed operations for `seconds` (and at least
    `min_ops`); returns the completed results and the numbers of
    operations attempted and failed (raised, or failed the output check)."""
    from qabench.workloads import run_op

    results, attempted, failed = [], 0, 0
    t_end = time.monotonic() + seconds
    while (len(results) < min_ops or time.monotonic() < t_end) and failed < 3:
        attempted += 1
        try:
            r = run_op(spark, pages, cfg, inputs, oracle, os.path.join(work, "out"), seed)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        if r.problems:
            log(f"output check failed: {r.problems}")
            failed += 1
        results.append(r)
    return results, attempted, failed


def run_workload(spark, w, seed: int, seconds: float, trace: bool,
                 setup_s: float, start_s: float, n_docs: int | None = None) -> dict:
    """Inputs, untimed warm-up, the timed loop and, when tracing, the traced
    run; returns the metrics with the operation counts."""
    from qabench import sparkstats as ss
    from qabench import trace as tr
    from qabench import workloads as wl

    setup_sql = ss.sql_metrics_since(spark, ss.Mark(0, 0))
    spans = tr.Spans()
    root = spans.open("run", workload=w.name, seed=seed, trace=int(trace))
    work = os.path.join(boot.WORK, w.name)
    cache = os.path.join(boot.WORK, "cache")
    cfg = wl.qa_config(w, spark.sparkContext.defaultParallelism)
    inputs = wl.prepare_inputs(w, cfg, cache, seed, n_docs)
    oracle = wl.oracle_frame(inputs.sample, cfg)
    pages = spark.read.parquet(inputs.path)
    log(f"inputs ready at {boot.process_age_s():.1f} s")
    # The first operations of a session pay the workers' imports and the
    # JVM's JIT (measured: 45k -> 75k docs/s over the first four
    # qa_html_scoped operations); a user running many tables pays that
    # once, so it is not timed. The warm-up starts with one cli.main call,
    # counted as an operation and failed if cli.main's config differs from
    # the benchmark's; one qa_crash_resume operation is too long to discard,
    # so there it is the whole warm-up, on a small table with at most four
    # chunks.
    check_path, check_chunks = inputs.path, cfg.n_chunks
    if not w.warmup_s:
        check_path = wl.prepare_inputs(
            w, cfg, cache, seed, min(wl.WARMUP_DOCS, n_docs or wl.WARMUP_DOCS)).path
        check_chunks = min(cfg.n_chunks, 4)
    attempted, failed = 1, 0
    try:
        problems = wl.cli_check(w, cfg, check_path, os.path.join(work, "warm"),
                                check_chunks)
    except Exception:
        traceback.print_exc()
        problems = ["cli.main raised"]
    if problems:
        log(f"cli check failed: {problems}")
        failed += 1
    if w.warmup_s:  # untimed operations on the real input, checked and counted
        _, n, f = measure(
            spark, seed, w.warmup_s, work, inputs, cfg, pages, oracle, min_ops=0)
        attempted, failed = attempted + n, failed + f
    log(f"warm-up done at {boot.process_age_s():.1f} s")
    results, n, f = measure(spark, seed, seconds, work, inputs, cfg, pages, oracle)
    attempted, failed = attempted + n, failed + f
    log(f"{attempted} operations done at {boot.process_age_s():.1f} s")
    if not results:
        raise RuntimeError("no operation completed")
    ledger = None
    if trace:
        metrics, ledger, problems = tr.traced_run(
            spark, w, seed, work, inputs, cfg, pages, oracle, results, setup_sql,
            start_s, spans)
        attempted += 1
        if problems:
            log(f"output check of the traced run failed: {problems}")
            failed += 1
    else:
        metrics = wl.end_to_end(results, setup_s)
    spans.close(root)
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "ledger": ledger, "spans": spans.items,
            "ops": [dataclasses.asdict(r) for r in results]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="qabench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import isimip_qa_spark  # noqa: F401  (the program under test; fail fast without it)
    import pyspark

    from qabench import sparkstats as ss
    from qabench.trace import LAYER_UNITS
    from qabench.workloads import E2E_UNITS, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    steal = ss.Steal()
    spark, start_s = boot.start_session()
    setup_s = boot.process_age_s()
    log(f"set-up {setup_s:.2f} s")
    try:
        res = run_workload(spark, w, args.seed, args.seconds, bool(args.trace),
                           setup_s, start_s)
    finally:
        boot.stop(spark)
    ctx = {
        "nproc": boot.ncores(),
        "cpu_steal_share": steal.share(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }
    units = LAYER_UNITS if args.trace else E2E_UNITS
    metrics = res["metrics"]
    os.makedirs(OUT, exist_ok=True)
    tag = f"{w.name}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump({"workload": w.name, "seed": args.seed, "context": ctx,
                   "metrics": metrics, "operations": res["ops"],
                   "ledger": res["ledger"]}, f, indent=1)
    if args.trace:
        with open(os.path.join(OUT, f"spans-{tag}.json"), "w") as f:
            json.dump(res["spans"], f)
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
