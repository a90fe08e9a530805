"""The full QA DAG vs the pure-pandas oracle: F1, byte-identity, resume,
metrics + lineage (BASELINE.json acceptance criteria)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from isimip_qa_spark.plans import QAConfig, run_qa
from isimip_qa_spark.plans.pipeline import read_scored
from oracle.pandas_ref import f1_score, qa_frame


@pytest.fixture(scope="module")
def cfg():
    return QAConfig(n_chunks=4, n_partitions=4)


@pytest.fixture(scope="module")
def scored(spark, pages_sdf, cfg, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qa_out"))
    summary = run_qa(spark, pages_sdf, cfg, out)
    return out, summary, read_scored(spark, out).toPandas()


@pytest.fixture(scope="module")
def oracle_scored(pages_pdf, cfg):
    return qa_frame(pages_pdf.drop(columns=["html"]), cfg)


def test_all_rows_survive(scored, pages_pdf):
    _, summary, got = scored
    assert len(got) == len(pages_pdf)
    assert summary["rows"] == len(pages_pdf)
    assert sorted(summary["chunks_run"]) == [0, 1, 2, 3]


def test_keep_drop_f1(scored, oracle_scored):
    """BASELINE.json: keep/drop F1 ≥ 0.99 vs the reference implementation.
    With frozen shared constants the match should be exact."""
    _, _, got = scored
    merged = got.merge(
        oracle_scored[["url", "keep"]], on="url", suffixes=("", "_oracle")
    )
    assert len(merged) == len(got)
    f1 = f1_score(merged["keep"], merged["keep_oracle"])
    assert f1 >= 0.99, f"F1={f1}"
    # and in fact exact agreement
    assert (merged["keep"] == merged["keep_oracle"]).all()


def test_scrub_byte_identity(scored, oracle_scored):
    """BASELINE.json input_hint: byte-identical scrubbed text per url."""
    _, _, got = scored
    merged = got.merge(
        oracle_scored[["url", "text_scrubbed"]], on="url", suffixes=("", "_o")
    )
    same = merged["text_scrubbed"] == merged["text_scrubbed_o"]
    assert same.all(), merged.loc[~same, "url"].head()


def test_pii_actually_scrubbed(scored):
    _, _, got = scored
    changed = got[got["text_scrubbed"] != got["text"]]
    assert len(changed) > 0
    assert changed["text_scrubbed"].str.contains("<EMAIL>").all()
    assert not changed["text_scrubbed"].str.contains("example-mail.com").any()


def test_langid_accuracy_on_clean_docs(scored):
    """Clean docs (every bucket except no-stopword 85-89) must langid to
    their true language."""
    _, _, got = scored
    doc_id = got["url"].str.extract(r"/p/(\d+)$")[0].astype(int)
    clean = got[(doc_id % 100 < 70)]
    acc = (clean["lang_pred"] == clean["lang"]).mean()
    assert acc == 1.0, acc


def test_planted_defects_dropped(scored):
    _, _, got = scored
    doc_id = got["url"].str.extract(r"/p/(\d+)$")[0].astype(int)
    b = doc_id % 100
    assert not got.loc[(b >= 70) & (b < 94), "keep"].any()
    assert got.loc[b < 70, "keep"].all()
    assert got.loc[(b >= 94) & (b <= 96), "keep"].all()  # PII docs kept


def test_metrics_and_lineage_written(spark, scored, cfg):
    out, _, got = scored
    metrics = spark.read.parquet(f"{out}/metrics").toPandas()
    assert metrics["n_docs"].sum() == len(got)
    assert (metrics["config_hash"] == cfg.config_hash()).all()
    assert metrics["n_scrubbed"].sum() == (got["text_scrubbed"] != got["text"]).sum()
    lineage = spark.read.parquet(f"{out}/lineage").toPandas()
    assert set(lineage["chunk"]) == {0, 1, 2, 3}
    assert (lineage["stages"] == "langid,perplexity,rules,scrub,decision").all()
    assert lineage["rows"].sum() == len(got)


def test_resume_skips_completed_chunks(spark, pages_sdf, cfg, scored):
    out, _, _ = scored
    summary2 = run_qa(spark, pages_sdf, cfg, out, resume=True)
    assert summary2["chunks_run"] == []
    assert sorted(summary2["chunks_skipped"]) == [0, 1, 2, 3]


def test_resume_after_partial_failure(spark, pages_sdf, cfg, tmp_path, caplog):
    """Kill/restart: drop one chunk's manifest → only that chunk re-runs,
    and the final corpus is complete (reference analogue: artifact-exists
    skip, main.py:126-128). The resume decision and the detected hot hosts
    are logged."""
    out = str(tmp_path / "qa_partial")
    run_qa(spark, pages_sdf, cfg, out)
    os.remove(os.path.join(out, "_manifest", "chunk_2.json"))
    with caplog.at_level("INFO", logger="isimip_qa_spark"):
        summary = run_qa(spark, pages_sdf, cfg, out, resume=True)
    logged = [r.getMessage() for r in caplog.records
              if r.name == "isimip_qa_spark.plans.pipeline"]
    assert f"run_qa {out}: skipped chunks [0, 1, 3], fetched [], running [2]" in logged
    assert any("hot hosts [" in m and "host0.example.org" in m for m in logged)
    assert summary["chunks_run"] == [2]
    assert sorted(summary["chunks_skipped"]) == [0, 1, 3]
    got = read_scored(spark, out).toPandas()
    assert len(got) == pages_sdf.count()
    metrics = spark.read.parquet(f"{out}/metrics").toPandas()
    assert metrics["n_docs"].sum() == len(got)  # the re-run chunk counts once


def test_window_and_cohort_pushdown(spark, pages_sdf, tmp_path):
    """Period/Region analogues actually filter (and appear as pushed
    filters over a parquet source)."""
    src = str(tmp_path / "pages_parquet")
    pages_sdf.write.mode("overwrite").parquet(src)
    pages = spark.read.parquet(src)
    cfg = QAConfig(
        n_chunks=2,
        n_partitions=2,
        window=("2024-01-01 00:00:00", "2024-01-10 00:00:00"),
        cohort_langs=("en",),
    )
    out = str(tmp_path / "qa_scoped")
    summary = run_qa(spark, pages, cfg, out)
    got = read_scored(spark, out).toPandas()
    assert 0 < len(got) < pages.count()
    assert (got["lang"] == "en").all()
    assert got["warc_ts"].max() <= pd.Timestamp("2024-01-10")
    # pushdown check on the scoped plan
    from isimip_qa_spark.plans.pipeline import scope_filter

    plan = scope_filter(pages, cfg)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "warc_ts" in plan


def test_hot_host_detected_and_salted(scored):
    _, summary, _ = scored
    assert "host0.example.org" in summary["hot_hosts"]


def test_single_pass_mode_equivalent(spark, pages_sdf, cfg, scored, tmp_path):
    """single_pass checkpoint mode: same output + manifest as chunked."""
    from isimip_qa_spark.plans import QAConfig, run_qa

    cfg2 = QAConfig(n_chunks=4, n_partitions=4, checkpoint_mode="single_pass")
    out = str(tmp_path / "qa_sp")
    summary = run_qa(spark, pages_sdf, cfg2, out)
    assert summary["rows"] == 2000
    assert sorted(summary["chunks_run"]) == [0, 1, 2, 3]
    got = read_scored(spark, out).toPandas()
    _, _, chunked = scored
    a = got.sort_values("url")[["url", "keep", "text_scrubbed", "lang_pred"]]
    b = chunked.sort_values("url")[["url", "keep", "text_scrubbed", "lang_pred"]]
    assert a.values.tolist() == b.values.tolist()
    # a later invocation resumes chunk-wise
    summary2 = run_qa(spark, pages_sdf, cfg2, out, resume=True)
    assert summary2["chunks_run"] == []
    # dropping one manifest re-runs only that chunk (falls back to chunked)
    os.remove(os.path.join(out, "_manifest", "chunk_1.json"))
    summary3 = run_qa(spark, pages_sdf, cfg2, out, resume=True)
    assert summary3["chunks_run"] == [1]
    assert len(read_scored(spark, out).toPandas()) == 2000


def test_concurrent_chunks_match_serial(spark, pages_sdf, tmp_path):
    """n_concurrent_chunks=4 produces the same corpus, manifests, and
    resume behaviour as the serial chunk loop — job-level parallelism must
    not change any output byte or the resume granularity."""
    from isimip_qa_spark.plans import QAConfig, run_qa
    from isimip_qa_spark.plans.checkpoint import read_manifest
    from isimip_qa_spark.plans.pipeline import read_scored

    serial = QAConfig(n_chunks=4, n_partitions=4)
    conc = QAConfig(n_chunks=4, n_partitions=4, n_concurrent_chunks=4)
    # execution knob is identity-neutral: same artifact hash both ways
    assert serial.config_hash() == conc.config_hash()

    out_s, out_c = str(tmp_path / "s"), str(tmp_path / "c")
    s1 = run_qa(spark, pages_sdf, serial, out_s)
    s2 = run_qa(spark, pages_sdf, conc, out_c)
    assert s1["chunks_run"] == s2["chunks_run"] == [0, 1, 2, 3]

    a = read_scored(spark, out_s).orderBy("url").toPandas()
    b = read_scored(spark, out_c).orderBy("url").toPandas()
    assert a["url"].tolist() == b["url"].tolist()
    assert a["keep"].tolist() == b["keep"].tolist()
    assert a["text_scrubbed"].tolist() == b["text_scrubbed"].tolist()

    rows_s = {c: m["rows"] for c, m in read_manifest(out_s).items()}
    rows_c = {c: m["rows"] for c, m in read_manifest(out_c).items()}
    assert rows_s == rows_c

    # concurrent run resumes like the serial one
    again = run_qa(spark, pages_sdf, conc, out_c)
    assert again["chunks_run"] == [] and sorted(again["chunks_skipped"]) == [0, 1, 2, 3]
