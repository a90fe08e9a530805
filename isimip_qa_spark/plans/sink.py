"""Write-audit sink: the whole QA pass as ONE Spark job.

`scan → scope filter → salted repartition → mapInPandas(sink)` where the
sink computes the fused QA kernel (functions/qa_fused.py), derives the
keep/drop decision, streams the scored rows into per-chunk parquet files
with pyarrow, and returns ONLY the per-(chunk, partition) metrics rows.

Why this shape (measured on this sandbox, reasoned for 1000 executors):
- `text` crosses the JVM→Python boundary exactly once and nothing
  row-sized crosses back — the job's collect() is a few metric rows per
  partition (the reference analogue: an extraction emits its artifact, not
  the grid — /root/reference/isimip_qa/mixins/extractions.py:42-62).
- The separate audit job (re-scan written output for metrics) and the
  committer's driver-side rename pass disappear; those were the remaining
  serial terms in the N→4N scaling measurement (BASELINE.md).
- Files are written atomically: tmp name per task attempt, os.replace on
  close; re-run of a failed task overwrites (last-wins), so the manifest
  written by the driver after the job commits is still the publish step —
  write-audit-publish with the manifest as the catalog (Iceberg-snapshot
  analogue, and the resume unit per north_rule).

Semantics contract: this sink is the only writer of scored rows, in both
checkpoint modes. Its values equal the column-expression stages
(`apply_stages(fused=False)`, the reference surface) — enforced by
tests/test_functions.py fused==unfused and by the pandas-oracle tests in
tests/test_qa_pipeline.py. One caveat: a NULL `text` row gets keep=False
here (pandas) where the expression stages give keep=NULL; both count as
"not kept" in every metric.
"""

from __future__ import annotations

import logging
import os
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)


def _round4_half_up(x: float) -> float:
    """Twin of Spark's F.round(col, 4): Spark rounds
    BigDecimal.valueOf(double) — i.e. the SHORTEST decimal representation
    (Double.toString), not the exact binary expansion — with HALF_UP.
    Python's repr() is the same shortest round-trip decimal, so
    Decimal(repr(x)) + ROUND_HALF_UP reproduces it exactly (verified against
    F.round at .x5 boundaries in tests/test_sink_rounding.py, where both
    Python round() [HALF_EVEN] and Decimal(x) [exact-binary] differ)."""
    return float(
        Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )

# Raw sums/counts ride along with the rounded averages so any rollup
# (plots.metrics_rollup, grid summaries) can aggregate EXACTLY instead of
# docs-weighting rounded per-partition partials (VERDICT r2 #7).
METRICS_SCHEMA = (
    "chunk int, partition_id int, n_docs long, n_keep long, avg_ppl double, "
    "avg_words double, trip_short long, trip_symbol long, n_scrubbed long, "
    "ts_min timestamp, ts_max timestamp, "
    "ppl_sum double, ppl_n long, words_sum long, words_n long"
)
# one row per committed chunk, derived from its manifest (checkpoint.publish)
LINEAGE_SCHEMA = (
    "config_hash string, chunk int, stages string, rows long, "
    "n_hot_hosts int, wall_s double"
)

# stable on-disk schema for the scored rows (everything the JVM writer
# produced, minus the chunk partition column which lives in the dir name)
_OUT_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("text", "string"),
    ("lang", "string"),
    ("lang_pred", "string"),
    ("avg_logprob", "double"),
    ("ppl", "double"),
    ("scrub_delta", "string"),
    ("n_words", "long"),
    ("mean_word_len", "double"),
    ("symbol_ratio", "double"),
    ("distinct_word_ratio", "double"),
    ("stopword_ratio", "double"),
    ("ellipsis_count", "long"),
    ("dup_line_frac", "double"),
    ("dup_para_frac", "double"),
    ("dup_2gram_frac", "double"),
    ("repl_n", "long"),
    ("mojibake_n", "long"),
    ("ctrl_frac", "double"),
    ("bullet_line_frac", "double"),
    ("ellipsis_line_frac", "double"),
    ("alpha_word_frac", "double"),
    ("scrubbed", "boolean"),
    ("keep", "boolean"),
]


def _arrow_schema(cols):
    """pyarrow schema of (name, Spark SQL type) pairs, or of a DDL string
    such as METRICS_SCHEMA."""
    import pyarrow as pa

    if isinstance(cols, str):
        cols = [f.split() for f in cols.split(",")]
    m = {
        "string": pa.string(),
        "timestamp": pa.timestamp("us"),
        "double": pa.float64(),
        "int": pa.int32(),
        "long": pa.int64(),
        "boolean": pa.bool_(),
    }
    return pa.schema([(name, m[t]) for name, t in cols])


def _pa_schema():
    return _arrow_schema(_OUT_COLS)


def _profile_thresholds(s: pd.DataFrame, cfg):
    """Per-row (min_words, min_stopword_ratio, min_alpha_word_frac) from
    cfg.lang_profiles keyed on lang_pred — the pandas twin of
    stages._profile_threshold's CASE chain (listed lang → profile row,
    else the 'default' row, else the global threshold)."""
    dflt = (cfg.min_words, cfg.min_stopword_ratio, cfg.min_alpha_word_frac)
    for row in cfg.lang_profiles:
        if row[0] == "default":
            dflt = tuple(row[1:])
    maps = [
        {r[0]: r[i] for r in cfg.lang_profiles if r[0] != "default"}
        for i in (1, 2, 3)
    ]
    lp = s["lang_pred"]
    return tuple(
        lp.map(m).fillna(d).astype(float) for m, d in zip(maps, dflt)
    )


def _keep_series(s: pd.DataFrame, cfg) -> pd.Series:
    """pandas twin of stages.rules_pass_expr + decision — same float64
    comparisons over bit-identical inputs, so the same booleans."""
    nw = s["n_words"]
    min_words = cfg.min_words
    min_sw = cfg.min_stopword_ratio
    min_alpha = cfg.min_alpha_word_frac
    if cfg.lang_profiles:
        min_words, min_sw, min_alpha = _profile_thresholds(s, cfg)
    expr = (
        (nw >= min_words)
        & (nw <= cfg.max_words)
        & (s["mean_word_len"] >= cfg.min_mean_word_len)
        & (s["mean_word_len"] <= cfg.max_mean_word_len)
        & (s["symbol_ratio"] <= cfg.max_symbol_ratio)
        & (s["distinct_word_ratio"] >= cfg.min_distinct_word_ratio)
        & (s["stopword_ratio"] >= min_sw)
        & (s["ellipsis_count"] <= cfg.max_ellipsis)
        & (s["dup_line_frac"] <= cfg.max_dup_line_frac)
        & (s["dup_para_frac"] <= cfg.max_dup_para_frac)
        & (s["dup_2gram_frac"] <= cfg.max_dup_2gram_frac)
        & (s["repl_n"] <= cfg.max_repl_chars)
        & (s["mojibake_n"] <= cfg.max_mojibake)
        & (s["ctrl_frac"] <= cfg.max_ctrl_frac)
        & (s["bullet_line_frac"] <= cfg.max_bullet_line_frac)
        & (s["ellipsis_line_frac"] <= cfg.max_ellipsis_line_frac)
        & (s["alpha_word_frac"] >= min_alpha)
        & (s["ppl"] <= cfg.max_ppl)
        & s["lang_pred"].isin(list(cfg.allowed_langs))
    )
    return expr.fillna(False).astype(bool)


def _make_writer(pq, path: str, schema):
    """Sink parquet writer. Experiment hooks (SPARK_GRAFT_ZSTD_LEVEL,
    SPARK_GRAFT_PAGE_KB) expose the codec level / data-page size that the
    2->8 scaling study sweeps (BASELINE.md): compression CPU scales with
    cores, output-byte bandwidth does not, so the codec point shifts the
    compute/bandwidth mix."""
    # default zstd level 3 (pyarrow's own default is 1): measured on the
    # round-3 codec sweep as strictly faster at BOTH core counts
    # (133.4s/39.9s vs 151.3s/42.9s at 4M docs) — the extra compression
    # CPU parallelizes with cores while the saved output bytes relieve
    # shared memory/disk bandwidth. (Its 2->8 efficiency RATIO is not
    # better — 0.836 vs zstd1's same-campaign 0.881, since it helps the
    # low-core level more; the default optimizes wall at every level,
    # not the ratio. BASELINE.md round-3 section has the full table.)
    kw = {"compression": "zstd", "compression_level": 3}
    lvl = os.environ.get("SPARK_GRAFT_ZSTD_LEVEL")
    if lvl:
        kw["compression_level"] = int(lvl)
    page_kb = os.environ.get("SPARK_GRAFT_PAGE_KB")
    if page_kb:
        kw["data_page_size"] = int(page_kb) * 1024
    return pq.ParquetWriter(path, schema, **kw)


def qa_sink(scored_input: DataFrame, out_dir: str, cfg) -> DataFrame:
    """Attach the sink to a repartitioned pages DataFrame (columns url,
    warc_ts, text, lang, chunk). Returns the (lazy) metrics DataFrame —
    running any action on it executes the whole write."""
    from ..functions.qa_fused import _fused_series

    data_dir = os.path.join(out_dir, "data")
    # trip counters are diagnostics against the GLOBAL thresholds by
    # design (stable cross-run lineage even when lang_profiles vary the
    # actual gate); the keep decision itself honours the profiles
    min_words, max_symbol = cfg.min_words, cfg.max_symbol_ratio

    def sink(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid, attempt = tc.partitionId(), tc.taskAttemptId()
        schema = _pa_schema()
        writers: dict[int, tuple] = {}
        acc: dict[int, dict] = {}

        for pdf in batches:
            stats = _fused_series(pdf["text"])
            out = pdf[["url", "warc_ts", "text", "lang"]].reset_index(drop=True)
            for c in stats.columns:
                out[c] = stats[c]
            out["scrubbed"] = out["scrub_delta"].notna()
            out["keep"] = _keep_series(out, cfg)
            out["warc_ts"] = out["warc_ts"].astype("datetime64[us]")
            chunks = pdf["chunk"].reset_index(drop=True)

            for ck, g in out.groupby(chunks):
                ck = int(ck)
                w = writers.get(ck)
                if w is None:
                    cdir = os.path.join(data_dir, f"chunk={ck}")
                    os.makedirs(cdir, exist_ok=True)
                    # sweep tmp files abandoned by failed/killed prior
                    # attempts of THIS partition (a crashed task never
                    # reaches its os.replace; reruns must not accumulate
                    # hidden .tmp files on disk). Guard: only attempts with
                    # a STRICTLY LOWER attempt id — a concurrent
                    # speculative/zombie attempt with a higher id is live
                    # and must not have its open tmp unlinked mid-write
                    # (attempt ids are monotonically increasing)
                    import glob

                    for stale in glob.glob(
                        os.path.join(cdir, f".part-{pid:05d}-*.tmp")
                    ):
                        try:
                            stale_attempt = int(
                                stale.rsplit("-", 1)[1][: -len(".tmp")]
                            )
                        except ValueError:
                            continue
                        if stale_attempt >= attempt:
                            continue
                        try:
                            os.remove(stale)
                        except OSError as e:
                            log.debug("stale tmp %s not removed: %s", stale, e)
                    tmp = os.path.join(cdir, f".part-{pid:05d}-{attempt}.tmp")
                    final = os.path.join(cdir, f"part-{pid:05d}.parquet")
                    w = (_make_writer(pq, tmp, schema), tmp, final)
                    writers[ck] = w
                    acc[ck] = {
                        "n_docs": 0, "n_keep": 0, "ppl_sum": 0.0, "ppl_n": 0,
                        "w_sum": 0, "w_n": 0, "trip_short": 0,
                        "trip_symbol": 0, "n_scrubbed": 0,
                        "ts_min": None, "ts_max": None,
                    }
                w[0].write_table(
                    pa.Table.from_pandas(
                        g[[c for c, _ in _OUT_COLS]], schema=schema,
                        preserve_index=False,
                    )
                )
                a = acc[ck]
                a["n_docs"] += len(g)
                a["n_keep"] += int(g["keep"].sum())
                ppl = g["ppl"].dropna()
                a["ppl_sum"] += float(ppl.sum())
                a["ppl_n"] += len(ppl)
                nwv = g["n_words"].dropna()
                a["w_sum"] += int(nwv.sum())
                a["w_n"] += len(nwv)
                a["trip_short"] += int((g["n_words"] < min_words).sum())
                a["trip_symbol"] += int((g["symbol_ratio"] > max_symbol).sum())
                a["n_scrubbed"] += int(g["scrubbed"].sum())
                lo, hi = g["warc_ts"].min(), g["warc_ts"].max()
                a["ts_min"] = lo if a["ts_min"] is None else min(a["ts_min"], lo)
                a["ts_max"] = hi if a["ts_max"] is None else max(a["ts_max"], hi)

        rows = []
        for ck, (w, tmp, final) in writers.items():
            w.close()
            os.replace(tmp, final)  # atomic; task retry last-wins
            a = acc[ck]
            rows.append(
                {
                    "chunk": ck,
                    "partition_id": pid,
                    "n_docs": a["n_docs"],
                    "n_keep": a["n_keep"],
                    "avg_ppl": _round4_half_up(a["ppl_sum"] / a["ppl_n"])
                    if a["ppl_n"]
                    else None,
                    "avg_words": _round4_half_up(a["w_sum"] / a["w_n"])
                    if a["w_n"]
                    else None,
                    "trip_short": a["trip_short"],
                    "trip_symbol": a["trip_symbol"],
                    "n_scrubbed": a["n_scrubbed"],
                    "ts_min": a["ts_min"],
                    "ts_max": a["ts_max"],
                    "ppl_sum": a["ppl_sum"],
                    "ppl_n": a["ppl_n"],
                    "words_sum": a["w_sum"],
                    "words_n": a["w_n"],
                }
            )
        if rows:
            yield pd.DataFrame(rows)

    return scored_input.mapInPandas(sink, METRICS_SCHEMA)
