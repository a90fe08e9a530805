"""Pure-pandas reference implementation of the QA pipeline — the analogue of
the reference's independent CDO oracle for the mean extraction
(/root/reference/isimip_qa/tests/test_extractions.py:55-61,
testing/cdo/README.md). The Spark pipeline's keep/drop labels must match
this at F1 ≥ 0.99 (BASELINE.json metric) and `text_scrubbed` must be
byte-identical per url.

Deliberately written against pandas/numpy primitives, NOT by calling the
Spark expression builders — an independent second implementation. The only
shared artifacts are the frozen constants (stop-word lists, model dict,
regex patterns, thresholds), which are part of the contract itself.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from isimip_qa_spark.functions.langid import LANG_ORDER, LANG_STOPWORDS
from isimip_qa_spark.functions.perplexity import MODEL, OOV_LOGPROB
from isimip_qa_spark.functions.scrub import ALL_PATTERNS
from isimip_qa_spark.functions.textstats import (
    BULLET_LINE_RE,
    CTRL_CLASS,
    ELLIPSIS_SUFFIXES,
    MOJIBAKE_SEQS,
    REPL_CHAR,
    WORDLIKE_RE,
)
from isimip_qa_spark.plans.config import QAConfig

_SYMBOL_RE = re.compile(r"[!-/:-@\[-`{-~]")
_ELLIPSIS_RE = re.compile(r"\.\.\.")
_CTRL_RE = re.compile(CTRL_CLASS)
_BULLET_RE = re.compile(BULLET_LINE_RE)
_WORDLIKE_RE = re.compile(WORDLIKE_RE)


def qa_frame(pages: pd.DataFrame, cfg: QAConfig | None = None) -> pd.DataFrame:
    """pages(url, warc_ts, text, lang[, html]) → scored frame with the same
    derived columns the Spark pipeline adds."""
    cfg = cfg or QAConfig()
    out = pages.copy()
    texts = out["text"]

    tok_lists = [t.split(" ") for t in texts]
    n_words = np.array([len(tk) for tk in tok_lists], dtype=np.int64)
    non_space = np.array([len(t.replace(" ", "")) for t in texts], dtype=np.int64)
    out["n_words"] = n_words
    out["mean_word_len"] = non_space / n_words
    out["symbol_ratio"] = (
        np.array([len(_SYMBOL_RE.findall(t)) for t in texts]) / n_words
    )
    out["distinct_word_ratio"] = (
        np.array([len(set(tk)) for tk in tok_lists]) / n_words
    )
    sw = {w for ws in LANG_STOPWORDS.values() for w in ws}
    out["stopword_ratio"] = (
        np.array([sum(1 for w in t.lower().split(" ") if w in sw) for t in texts])
        / n_words
    )
    out["ellipsis_count"] = np.array(
        [len(_ELLIPSIS_RE.findall(t)) for t in texts], dtype=np.int64
    )

    # Gopher repetition rules — independent per-doc formulation
    def _dup_frac(parts: list[str]) -> float:
        return (len(parts) - len(set(parts))) / len(parts)

    out["dup_line_frac"] = [_dup_frac(t.split("\n")) for t in texts]
    out["dup_para_frac"] = [_dup_frac(t.split("\n\n")) for t in texts]
    out["dup_2gram_frac"] = [
        _dup_frac(
            [f"{tk[i]} {tk[i + 1]}" for i in range(len(tk) - 1)]
            if len(tk) >= 2
            else [t]
        )
        for t, tk in zip(texts, tok_lists)
    ]

    # encoding-quality signals (independent formulation: Python str.count
    # over the pinned literals, regex findall for the control class)
    out["repl_n"] = np.array(
        [t.count(REPL_CHAR) for t in texts], dtype=np.int64
    )
    out["mojibake_n"] = np.array(
        [sum(t.count(seq) for seq, _ in MOJIBAKE_SEQS) for t in texts],
        dtype=np.int64,
    )
    out["ctrl_frac"] = np.array(
        [len(_CTRL_RE.findall(t)) / max(len(t), 1) for t in texts]
    )

    # Gopher format rules (independent formulation: per-line Python loops
    # over str.split lines / the space-split token lists)
    def _line_fracs(t: str) -> tuple[float, float]:
        lines = t.split("\n")
        nl = len(lines)
        nb = sum(1 for ln in lines if _BULLET_RE.match(ln))
        ne = sum(
            1 for ln in lines if any(ln.endswith(s) for s in ELLIPSIS_SUFFIXES)
        )
        return nb / nl, ne / nl

    fr = [_line_fracs(t) for t in texts]
    out["bullet_line_frac"] = np.array([a for a, _ in fr])
    out["ellipsis_line_frac"] = np.array([b for _, b in fr])
    out["alpha_word_frac"] = np.array(
        [
            sum(1 for x in tk if _WORDLIKE_RE.search(x)) / len(tk)
            for tk in tok_lists
        ]
    )

    # language-ID: stop-word occurrence argmax, LANG_ORDER tie-break
    lang_sets = {lg: set(ws) for lg, ws in LANG_STOPWORDS.items()}
    preds = []
    for t in texts:
        toks = t.lower().split(" ")
        counts = [sum(1 for w in toks if w in lang_sets[lg]) for lg in LANG_ORDER]
        preds.append(LANG_ORDER[int(np.argmax(counts))])
    out["lang_pred"] = preds

    # perplexity: unigram logprobs (dyadic → exact), OOV penalty
    avg_lp = np.array(
        [
            np.sum([MODEL.get(w, OOV_LOGPROB) for w in t.lower().split(" ")])
            / len(t.split(" "))
            for t in texts
        ]
    )
    out["avg_logprob"] = avg_lp
    out["ppl"] = np.exp(-avg_lp)

    # scrub: same compiled-Python-re chain (byte-identity contract)
    scrubbed = texts
    for pat, repl in ALL_PATTERNS:
        scrubbed = scrubbed.str.replace(re.compile(pat), repl, regex=True)
    out["text_scrubbed"] = scrubbed

    # per-language profile thresholds (independent formulation: a plain
    # per-row Python lookup keyed on lang_pred — listed lang → profile
    # row, else the 'default' row, else the global threshold)
    if cfg.lang_profiles:
        prof = {r[0]: tuple(r[1:]) for r in cfg.lang_profiles}
        fb = prof.get(
            "default",
            (cfg.min_words, cfg.min_stopword_ratio, cfg.min_alpha_word_frac),
        )
        trip = [prof.get(lp, fb) for lp in out["lang_pred"]]
        min_words = np.array([t[0] for t in trip], dtype=np.float64)
        min_sw = np.array([t[1] for t in trip], dtype=np.float64)
        min_alpha = np.array([t[2] for t in trip], dtype=np.float64)
    else:
        min_words = cfg.min_words
        min_sw = cfg.min_stopword_ratio
        min_alpha = cfg.min_alpha_word_frac

    out["keep"] = (
        (out["n_words"] >= min_words)
        & (out["n_words"] <= cfg.max_words)
        & (out["mean_word_len"] >= cfg.min_mean_word_len)
        & (out["mean_word_len"] <= cfg.max_mean_word_len)
        & (out["symbol_ratio"] <= cfg.max_symbol_ratio)
        & (out["distinct_word_ratio"] >= cfg.min_distinct_word_ratio)
        & (out["stopword_ratio"] >= min_sw)
        & (out["ellipsis_count"] <= cfg.max_ellipsis)
        & (out["dup_line_frac"] <= cfg.max_dup_line_frac)
        & (out["dup_para_frac"] <= cfg.max_dup_para_frac)
        & (out["dup_2gram_frac"] <= cfg.max_dup_2gram_frac)
        & (out["repl_n"] <= cfg.max_repl_chars)
        & (out["mojibake_n"] <= cfg.max_mojibake)
        & (out["ctrl_frac"] <= cfg.max_ctrl_frac)
        & (out["bullet_line_frac"] <= cfg.max_bullet_line_frac)
        & (out["ellipsis_line_frac"] <= cfg.max_ellipsis_line_frac)
        & (out["alpha_word_frac"] >= min_alpha)
        & (out["ppl"] <= cfg.max_ppl)
        & (out["lang_pred"].isin(list(cfg.allowed_langs)))
    )
    return out


def f1_score(pred: pd.Series, truth: pd.Series) -> float:
    """keep/drop F1 (positive class = keep)."""
    tp = int(((pred) & (truth)).sum())
    fp = int(((pred) & (~truth)).sum())
    fn = int(((~pred) & (truth)).sum())
    if tp == 0:
        return 0.0
    p = tp / (tp + fp)
    r = tp / (tp + fn)
    return 2 * p * r / (p + r)
