"""Exactly-once commit: a driver crash at any commit point of run_qa or
run_grid_fused, then a resume, leaves the metrics table, the lineage table
and the data each counting every in-scope corpus row exactly once.

The commit points of one run: after the sink job and before the first
manifest; between two manifest commits; after the manifests and before
the publish of metrics/ and lineage/. A crash is a raise injected there."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest

import isimip_qa_spark.plans.grid as grid_mod
import isimip_qa_spark.plans.pipeline as pipeline_mod
from isimip_qa_spark.plans import QAConfig, run_qa
from isimip_qa_spark.plans.checkpoint import manifest_dir
from isimip_qa_spark.plans.grid import (
    combo_dir,
    plan_grid,
    read_combo_scored,
    run_grid_fused,
)
from isimip_qa_spark.plans.pipeline import read_scored, scope_filter


class Crash(Exception):
    pass


def _crash_on(monkeypatch, module, name: str, nth: int) -> None:
    """Make `module.name` raise Crash on its nth call (1-based)."""
    real = getattr(module, name)
    calls = [0]

    def crashing(*a, **kw):
        calls[0] += 1
        if calls[0] == nth:
            raise Crash(f"{name} call {nth}")
        return real(*a, **kw)

    monkeypatch.setattr(module, name, crashing)


def _sum(out_dir: str, table: str, col: str) -> int:
    return int(pq.read_table(os.path.join(out_dir, table), columns=[col])[col].to_numpy().sum())


def _assert_once(spark, out_dir: str, want: int, data_rows: int | None = None) -> None:
    if data_rows is None:
        data_rows = read_scored(spark, out_dir).count()
    counts = {
        "metrics.n_docs": _sum(out_dir, "metrics", "n_docs"),
        "lineage.rows": _sum(out_dir, "lineage", "rows"),
        "data rows": data_rows,
    }
    assert counts == dict.fromkeys(counts, want)


# commit point -> (patched name, failing call, chunks the resume re-runs)
POINTS = {
    "after_sink": ("mark_chunk_done", 1, [0, 1, 2]),
    "between_manifests": ("mark_chunk_done", 2, [1, 2]),
    "before_publish": ("publish", 1, []),
}


@pytest.mark.parametrize("mode", ["chunked", "single_pass"])
@pytest.mark.parametrize("point", sorted(POINTS))
def test_crash_then_resume_counts_once(spark, pages_sdf, tmp_path, monkeypatch, mode, point):
    name, nth, rerun = POINTS[point]
    cfg = QAConfig(n_chunks=3, n_partitions=4, checkpoint_mode=mode)
    out = str(tmp_path / "out")
    _crash_on(monkeypatch, pipeline_mod, name, nth)
    with pytest.raises(Crash):
        run_qa(spark, pages_sdf, cfg, out)
    monkeypatch.undo()

    summary = run_qa(spark, pages_sdf, cfg, out)
    assert summary["chunks_run"] == rerun
    _assert_once(spark, out, pages_sdf.count())


# run_grid_fused over one window and two cohorts, 2 chunks: the window's
# run_qa commits manifests 1-2, the first combo's derivation 3-4, the
# second combo's 5-6; publish in the grid module is the combos' publish
GRID_POINTS = {
    "after_derive_job": (pipeline_mod, "mark_chunk_done", 3),
    "between_manifests": (pipeline_mod, "mark_chunk_done", 4),
    "before_publish": (grid_mod, "publish", 1),
}


@pytest.mark.parametrize("point", sorted(GRID_POINTS))
def test_fused_grid_crash_then_resume_counts_once(spark, pages_sdf, tmp_path, monkeypatch, point):
    module, name, nth = GRID_POINTS[point]
    base = QAConfig(n_chunks=2, n_partitions=4, checkpoint_mode="single_pass")
    windows, cohorts = [None], [("en", "es"), ("fr",)]
    out_root = str(tmp_path / "grid")
    _crash_on(monkeypatch, module, name, nth)
    with pytest.raises(Crash):
        run_grid_fused(spark, pages_sdf, base, windows, cohorts, out_root)
    monkeypatch.undo()

    run_grid_fused(spark, pages_sdf, base, windows, cohorts, out_root)
    for label, cfg, _ in plan_grid(base, windows, cohorts):
        cdir = combo_dir(out_root, label, cfg)
        want = scope_filter(pages_sdf, cfg).count()
        _assert_once(spark, cdir, want, read_combo_scored(spark, cdir).count())


def test_publish_owns_its_directories(spark, pages_sdf, tmp_path):
    """A resume into an out_dir left by an earlier version: a stray
    per-attempt metrics part is removed, and a manifest without lineage
    fields reads with defaults."""
    cfg = QAConfig(n_chunks=3, n_partitions=4)
    out = str(tmp_path / "out")
    run_qa(spark, pages_sdf, cfg, out)
    os.remove(os.path.join(manifest_dir(out), "chunk_1.json"))
    shutil.copy(
        os.path.join(out, "metrics", "metrics.parquet"),
        os.path.join(out, "metrics", f"part-{uuid.uuid4().hex}.parquet"),
    )
    old = os.path.join(manifest_dir(out), "chunk_2.json")
    with open(old) as f:
        man = json.load(f)
    with open(old, "w") as f:
        json.dump({k: v for k, v in man.items() if k not in ("n_hot_hosts", "wall_s")}, f)

    assert run_qa(spark, pages_sdf, cfg, out)["chunks_run"] == [1]
    for table in ("metrics", "lineage"):
        assert os.listdir(os.path.join(out, table)) == [f"{table}.parquet"]
    _assert_once(spark, out, pages_sdf.count())
    lineage = pq.read_table(os.path.join(out, "lineage")).to_pandas().set_index("chunk")
    assert (lineage.loc[2, "n_hot_hosts"], lineage.loc[2, "wall_s"]) == (0, 0.0)
    assert lineage.loc[1, "n_hot_hosts"] > 0
