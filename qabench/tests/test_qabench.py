"""Tests of the benchmark itself (not of the package it measures).

    python3 -m pytest qabench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from qabench import boot, run  # noqa: E402
from qabench import trace as tr  # noqa: E402
from qabench import workloads as wl  # noqa: E402

TINY = 1_000
CACHE = os.path.join(boot.WORK, "test-cache")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_match_benchmark_json():
    b = _benchmark_json()
    assert {x["name"]: x["why"] for x in b["workloads"]} == {
        w.name: w.why for w in wl.WORKLOADS.values()
    }
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == wl.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == tr.LAYER_UNITS
    assert b["command"][1] == "qabench/run.py" and b["paths"] == ["qabench"]


@pytest.fixture(scope="module")
def spark():
    s, _ = boot.start_session()
    yield s
    boot.stop(s)


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_tiny_pass(spark, name):
    res = run.run_workload(spark, wl.WORKLOADS[name], seed=7, seconds=0.0,
                           trace=False, setup_s=1.0, start_s=1.0, n_docs=TINY)
    assert res["attempted"] >= 1 and res["failed"] == 0
    assert set(res["metrics"]) == set(wl.E2E_UNITS)
    assert all(v > 0 for v in res["metrics"].values()), res["metrics"]


def test_tiny_traced_pass(spark):
    res = run.run_workload(spark, wl.WORKLOADS["qa_crash_resume"], seed=7, seconds=0.0,
                           trace=True, setup_s=1.0, start_s=1.0, n_docs=TINY)
    assert res["failed"] == 0
    assert set(res["metrics"]) == set(tr.LAYER_UNITS)
    assert res["metrics"]["checkpoint.recompute_ratio"] == 1.0
    assert "unattributed" in res["ledger"]
    names = {s["name"] for s in res["spans"]}
    assert {"run", "rung:kernel", "run_qa"} <= names
    assert any(n.startswith("job:plans.pipeline") for n in names)


def _corrupt(out_dir: str, url: str, col: str) -> None:
    """Rewrite the data file holding `url` with that row's `col` changed."""
    for root_dir, _, files in os.walk(os.path.join(out_dir, "data")):
        for f in files:
            path = os.path.join(root_dir, f)
            if not f.endswith(".parquet"):
                continue
            tbl = pq.read_table(path)
            df = tbl.to_pandas()
            hit = df["url"] == url
            if hit.any():
                if col == "keep":
                    df.loc[hit, "keep"] = ~df.loc[hit, "keep"]
                else:  # the stored form: a delta where scrubbing changed the text
                    target = "text" if df.loc[hit, "scrub_delta"].isna().all() else "scrub_delta"
                    df.loc[hit, target] = df.loc[hit, target] + "x"
                pq.write_table(pa.Table.from_pandas(df, schema=tbl.schema, preserve_index=False), path)
                return
    raise AssertionError(f"{url} not found")


@pytest.mark.parametrize("col", ["keep", "text_scrubbed"])
def test_corrupt_row_fails_check(spark, col):
    from isimip_qa_spark.plans import run_qa

    w = wl.WORKLOADS["qa_fresh"]
    cfg = wl.qa_config(w, spark.sparkContext.defaultParallelism)
    inputs = wl.prepare_inputs(w, cfg, CACHE, seed=9, n=TINY)
    out = os.path.join(boot.WORK, "test-out")
    shutil.rmtree(out, ignore_errors=True)
    oracle = wl.oracle_frame(inputs.sample, cfg)
    run_qa(spark, spark.read.parquet(inputs.path), cfg, out)
    assert wl.check_outputs(out, inputs, oracle, cfg) == []
    _corrupt(out, oracle["url"].iloc[3], col)
    problems = wl.check_outputs(out, inputs, oracle, cfg)
    assert len(problems) == 1 and problems[0].startswith(col), problems


def test_cli_check_flags_a_different_config(spark):
    """The timed run_qa calls must get the QAConfig cli.main builds."""
    w = wl.WORKLOADS["qa_html_scoped"]
    cfg = wl.qa_config(w, spark.sparkContext.defaultParallelism)
    inputs = wl.prepare_inputs(w, cfg, CACHE, seed=9, n=TINY)
    out = os.path.join(boot.WORK, "test-cli")
    assert wl.cli_check(w, cfg, inputs.path, out, 2) == []
    other = dataclasses.replace(cfg, cohort_langs=("es",))
    assert len(wl.cli_check(w, other, inputs.path, out, 2)) == 1


def test_fails_without_the_program(tmp_path):
    """Given only BENCHMARK.json and its own files, the benchmark exits
    non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "qabench"), tmp_path / "qabench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "qabench/run.py", "--workload", "qa_fresh", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert '"correct"' not in r.stdout
