"""QA stages: each adds columns to the pages DataFrame (never filters — the
keep/drop decision is a column, so lineage can count rule trips).

The stage registry mirrors the reference's extraction plugin registry
(/root/reference/isimip_qa/extractions/__init__.py:11-22 walks the package
for Extraction subclasses) with explicit registration instead of import-time
magic; capability predicates (has_region/has_period, models.py:139-145)
become `Stage.applicable(cfg)`.

Everything is column expressions or Arrow pandas UDFs — no per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import textstats as ts
from ..functions.langid import STOPWORD_UNION, lang_pred_udf
from ..functions.perplexity import ppl_udf
from ..functions.scrub import scrub_delta_udf
from .config import QAConfig


@dataclass(frozen=True)
class Stage:
    name: str
    apply: Callable[[DataFrame, QAConfig], DataFrame]
    # columns this stage adds (lineage metadata + pruning discipline)
    adds: tuple[str, ...]


def _langid(df: DataFrame, cfg: QAConfig) -> DataFrame:
    return df.withColumn("lang_pred", lang_pred_udf(F.col("text")))


def _perplexity(df: DataFrame, cfg: QAConfig) -> DataFrame:
    s = ppl_udf(F.col("text"))
    return df.withColumns(
        {"avg_logprob": s["avg_logprob"], "ppl": s["ppl"]}
    )


def _rules(df: DataFrame, cfg: QAConfig) -> DataFrame:
    text = F.col("text")
    return df.withColumns(
        {
            "n_words": ts.n_words_expr(text),
            "mean_word_len": ts.mean_word_len_expr(text),
            "symbol_ratio": ts.symbol_ratio_expr(text),
            "distinct_word_ratio": ts.distinct_word_ratio_expr(text),
            "stopword_ratio": ts.stopword_ratio_expr(text, STOPWORD_UNION),
            "ellipsis_count": ts.ellipsis_count_expr(text),
            "dup_line_frac": ts.dup_line_frac_expr(text),
            "dup_para_frac": ts.dup_para_frac_expr(text),
            "dup_2gram_frac": ts.dup_2gram_frac_expr(text),
            "repl_n": ts.repl_count_expr(text),
            "mojibake_n": ts.mojibake_count_expr(text),
            "ctrl_frac": ts.ctrl_frac_expr(text),
            "bullet_line_frac": ts.bullet_line_frac_expr(text),
            "ellipsis_line_frac": ts.ellipsis_line_frac_expr(text),
            "alpha_word_frac": ts.alpha_word_frac_expr(text),
        }
    )


def _scrub(df: DataFrame, cfg: QAConfig) -> DataFrame:
    # Python-re backend: the byte-identity invariant vs the pandas oracle.
    # Delta form: only changed docs carry a value; `text_scrubbed` is the
    # JVM-side coalesce (stored once, reconstructed on read — scale path).
    return df.withColumn("scrub_delta", scrub_delta_udf(F.col("text")))


def _profile_threshold(cfg: QAConfig, idx: int, global_default) -> Column:
    """CASE chain over lang_pred for profiled threshold `idx` (1 =
    min_words, 2 = min_stopword_ratio, 3 = min_alpha_word_frac): listed
    language → its profile value, else the 'default' row, else the
    global threshold. Profiles are config, so like the sweep grids they
    compile into the expression — the corpus never joins a dim in the
    pipeline's decision stage."""
    rows = [r for r in cfg.lang_profiles if r[0] != "default"]
    dflt = next((r for r in cfg.lang_profiles if r[0] == "default"), None)
    expr: Column = F.lit(dflt[idx] if dflt is not None else global_default)
    for row in rows:
        expr = F.when(F.col("lang_pred") == row[0], F.lit(row[idx])).otherwise(
            expr
        )
    return expr


def rules_pass_expr(cfg: QAConfig) -> Column:
    min_words: Column | int = cfg.min_words
    min_sw: Column | float = cfg.min_stopword_ratio
    min_alpha: Column | float = cfg.min_alpha_word_frac
    if cfg.lang_profiles:
        min_words = _profile_threshold(cfg, 1, cfg.min_words)
        min_sw = _profile_threshold(cfg, 2, cfg.min_stopword_ratio)
        min_alpha = _profile_threshold(cfg, 3, cfg.min_alpha_word_frac)
    return (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= cfg.max_words)
        & (F.col("mean_word_len") >= cfg.min_mean_word_len)
        & (F.col("mean_word_len") <= cfg.max_mean_word_len)
        & (F.col("symbol_ratio") <= cfg.max_symbol_ratio)
        & (F.col("distinct_word_ratio") >= cfg.min_distinct_word_ratio)
        & (F.col("stopword_ratio") >= min_sw)
        & (F.col("ellipsis_count") <= cfg.max_ellipsis)
        & (F.col("dup_line_frac") <= cfg.max_dup_line_frac)
        & (F.col("dup_para_frac") <= cfg.max_dup_para_frac)
        & (F.col("dup_2gram_frac") <= cfg.max_dup_2gram_frac)
        & (F.col("repl_n") <= cfg.max_repl_chars)
        & (F.col("mojibake_n") <= cfg.max_mojibake)
        & (F.col("ctrl_frac") <= cfg.max_ctrl_frac)
        & (F.col("bullet_line_frac") <= cfg.max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= cfg.max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha)
    )


def _decision(df: DataFrame, cfg: QAConfig) -> DataFrame:
    keep = (
        rules_pass_expr(cfg)
        & (F.col("ppl") <= F.lit(cfg.max_ppl))
        & F.col("lang_pred").isin(*cfg.allowed_langs)
    )
    return df.withColumn("keep", keep)


def _python_scores_fused(df: DataFrame, cfg: QAConfig) -> DataFrame:
    """langid + perplexity + scrub + rule statistics in ONE Arrow round-trip
    (qa_fused.py); outputs are bit-identical to the individual stages
    (tested against the expression forms)."""
    from ..functions.qa_fused import qa_scores_udf

    s = qa_scores_udf(F.col("text"))
    return df.withColumns(
        {
            "lang_pred": s["lang_pred"],
            "avg_logprob": s["avg_logprob"],
            "ppl": s["ppl"],
            "scrub_delta": s["scrub_delta"],
            "n_words": s["n_words"],
            "mean_word_len": s["mean_word_len"],
            "symbol_ratio": s["symbol_ratio"],
            "distinct_word_ratio": s["distinct_word_ratio"],
            "stopword_ratio": s["stopword_ratio"],
            "ellipsis_count": s["ellipsis_count"],
            "dup_line_frac": s["dup_line_frac"],
            "dup_para_frac": s["dup_para_frac"],
            "dup_2gram_frac": s["dup_2gram_frac"],
            "repl_n": s["repl_n"],
            "mojibake_n": s["mojibake_n"],
            "ctrl_frac": s["ctrl_frac"],
            "bullet_line_frac": s["bullet_line_frac"],
            "ellipsis_line_frac": s["ellipsis_line_frac"],
            "alpha_word_frac": s["alpha_word_frac"],
        }
    )


STAGES: list[Stage] = [
    Stage("langid", _langid, ("lang_pred",)),
    Stage("perplexity", _perplexity, ("avg_logprob", "ppl")),
    Stage(
        "rules",
        _rules,
        (
            "n_words", "mean_word_len", "symbol_ratio",
            "distinct_word_ratio", "stopword_ratio", "ellipsis_count",
            "dup_line_frac", "dup_para_frac", "dup_2gram_frac",
            "repl_n", "mojibake_n", "ctrl_frac",
            "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        ),
    ),
    Stage("scrub", _scrub, ("scrub_delta",)),
    Stage("decision", _decision, ("keep",)),
]

# Physical plan actually executed by the pipeline: every per-doc computation
# fused into one UDF; logical stage list (lineage) stays STAGES.
FUSED_STAGES: list[Stage] = [
    Stage(
        "python_scores",
        _python_scores_fused,
        (
            "lang_pred", "avg_logprob", "ppl", "scrub_delta",
            "n_words", "mean_word_len", "symbol_ratio",
            "distinct_word_ratio", "stopword_ratio", "ellipsis_count",
            "dup_line_frac", "dup_para_frac", "dup_2gram_frac",
            "repl_n", "mojibake_n", "ctrl_frac",
            "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        ),
    ),
    STAGES[4],  # decision
]
