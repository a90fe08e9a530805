"""QA run configuration (the reference's `settings`, config.py:15-19,
reduced to a frozen dataclass — every derived value is a pure function)."""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class QAConfig:
    """Thresholds + scopes for one QA run.

    `window` is the reference's Period (models.py:102-109): inclusive
    warc_ts bounds, None = auto/all. `cohort_langs` is the Region analogue
    (models.py:73-99): a cohort predicate over the corpus.
    """

    # Gopher/C4-style rule thresholds (multilingual-safe defaults)
    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 1.0
    max_mean_word_len: float = 20.0
    max_symbol_ratio: float = 0.1
    min_distinct_word_ratio: float = 0.1
    min_stopword_ratio: float = 0.01
    max_ellipsis: int = 5
    # Gopher repetition rules (§A1.1). Line/para thresholds: published
    # 0.30. The 2-gram default is inert (fraction < 1.0 always) because the
    # synthetic space-normalised corpora are small-vocab (median dup-2-gram
    # fraction 0.64); real-crawl deployments set Gopher's 0.20 — binding
    # thresholds are exercised in tests/test_repetition.py.
    max_dup_line_frac: float = 0.3
    max_dup_para_frac: float = 0.3
    max_dup_2gram_frac: float = 1.0
    # encoding-quality gate (mojibake / broken-decode). Inert on the
    # clean-ASCII synthetic corpora (measured 0 signal docs), so planted
    # keep rates are unchanged; binding thresholds exercised in
    # tests/test_encoding.py.
    max_repl_chars: int = 0
    max_mojibake: int = 0
    max_ctrl_frac: float = 0.001
    # document-format gate (Gopher §A1.1 bullet / ellipsis-line /
    # alphabetic-word rules). Paper defaults; inert on the synthetic
    # corpora (0 kept docs flip), binding thresholds exercised in
    # tests/test_format_rules.py.
    max_bullet_line_frac: float = 0.9
    max_ellipsis_line_frac: float = 0.3
    min_alpha_word_frac: float = 0.8
    # Per-language threshold profiles (CCNet practice): rows of
    # (lang, min_words, min_stopword_ratio, min_alpha_word_frac) keyed by
    # the pipeline's own lang_pred; a 'default' row covers unlisted
    # languages (absent that, the global thresholds above do). None (the
    # default) disables profiling — every existing keep/F1 contract is
    # computed with the global gate.
    lang_profiles: tuple[tuple[str, int, float, float], ...] | None = None
    # model-based thresholds
    max_ppl: float = 1500.0
    allowed_langs: tuple[str, ...] = ("en", "es", "fr", "de", "zh")
    # scopes
    window: tuple[str, str] | None = None  # inclusive (lo, hi) on warc_ts
    cohort_langs: tuple[str, ...] | None = None  # None = whole corpus
    # input form: when True the pipeline starts from the RAW capture —
    # `text` is derived from the `html` binary in the map stage
    # (functions/extract.py, JVM-side) and html is dropped before any
    # shuffle; byte-identity of the derivation is the north-rule invariant
    # (tests/test_extract.py), so every downstream semantic is unchanged
    extract_from_html: bool = False
    # execution
    n_chunks: int = 8  # checkpoint granularity (resume unit)
    # "chunked": one job per chunk — a killed run resumes per chunk.
    # "single_pass": one job over every missing chunk — ~3× less fixed
    # cost at small scale; a fresh run is one job over the whole corpus,
    # a partial resume is one job over just the chunks without manifests.
    checkpoint_mode: str = "chunked"
    n_partitions: int = 32
    # chunked mode: how many chunk jobs to keep in flight at once. Chunk
    # jobs are independent (disjoint buckets, own manifests); >1 lets the
    # scheduler overlap one chunk's straggler tail with the next chunk's
    # map stage. Execution-only — excluded from config_hash.
    n_concurrent_chunks: int = 1
    hot_host_frac: float = 0.05  # hosts above this share of rows get salted
    n_salts: int = 8

    # execution knobs that do not change output bytes — artifact identity
    # (config_hash) must not depend on them, or a resume after changing
    # them would needlessly recompute / refuse a cache hit
    _NON_SEMANTIC = ("n_concurrent_chunks",)

    def config_hash(self) -> str:
        """Stable hash recorded in lineage (run manifest identity)."""
        d = asdict(self)
        for k in self._NON_SEMANTIC:
            d.pop(k, None)
        payload = json.dumps(d, sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]
