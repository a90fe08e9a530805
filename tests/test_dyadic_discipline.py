"""The dyadic-discipline sweep (VERDICT r4 'Next round' #1).

Round 4 proved the risk class is real: a summation-order ULP landed a
group mean exactly on a round-6 boundary (lang_quality_rollup at
sf0.001). Cross-engine float parity for `round(<float agg>, 6)` oracle
columns therefore needs one of:

  dyadic-quantized   accumulands floor-quantized to 1/2^20 (or coarser
                     dyadics) BEFORE the sum on both engines — the sum is
                     exact in any order, the mean one IEEE division of
                     identical operands;
  int-ratio-exact    exact integer sums, ONE final IEEE division;
  dyadic-sum-exact   accumulands already dyadic by construction
                     (quantized logprobs, 1/2^QD-quantized JS terms);
  boundary-asserted  accumulation genuinely non-dyadic (ln/log2/exp libm
                     terms) — a test here asserts the UNROUNDED value sits
                     nowhere near a round-6 boundary at every shipped sf.

The first test is the grep-able inventory: every `round(avg|sum(...))`
in a registered oracle must be classified below, so an unaudited float
aggregate cannot land silently. The remaining tests are the
boundary-distance assertions for the `boundary-asserted` rows.
"""

from __future__ import annotations

import os
import re
from decimal import Decimal

import pytest

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]

# query name -> parity class for its round(avg|sum(...)) oracle columns.
# Adding a new float aggregate without classifying it here fails the
# inventory test; classifying it `boundary-asserted` without a probe
# below fails review by construction (the class list is this module).
FLOAT_AGG_CLASSES = {
    "bpe_fertility": "int-ratio-exact",  # int64 sums, one final division
    "knn_label_accuracy": "int-ratio-exact",
    "host_reputation": "boundary-asserted",  # keep_rate itself is
    # int-ratio-exact; the docs-weighted corpus rate sums n_docs*keep_rate
    # products (non-dyadic) — probed in test_host_reputation_boundary
    "lang_quality_rollup": "dyadic-quantized",  # 1/2^20 pre-quantized
    "embed_norm_stats": "dyadic-quantized",  # 1/2^20 pre-quantized (r5)
    "source_divergence": "dyadic-sum-exact",  # JS terms 1/QD-quantized
    "ppl_stupid_backoff": "boundary-asserted",  # avg_logprob is a
    # dyadic-sum-exact ratio; per-row ppl = exp(-avg) floats a libm ulp —
    # probed in test_exp_ppl_rows_clear_of_round6_boundaries
    "dsir_kl": "boundary-asserted",  # ln-term sums — probed below
    "domain_diversity": "boundary-asserted",  # entropy/HHI terms are
    # QD-quantized (dyadic-sum-exact) since the r5 sweep caught the
    # unquantized norm_entropy 8.5e-10 from a boundary at sf0.01; the one
    # remaining libm op (÷ log2(n_sources)) is probed below
}

_ROUND_AGG = re.compile(r"round\s*\(\s*-?\s*(?:avg|sum)\s*\(", re.I)


def _oracles():
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from isimip_qa_spark.queries import ORACLES, load_all

    load_all()
    return ORACLES


def _duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _boundary_distance(x: float) -> float:
    """Exact distance of x to the nearest round-6 decision boundary
    (the half-grid points k + 1/2 in units of 1e-6), via Decimal so the
    probe itself adds no float error."""
    y = Decimal(x) * 10**6  # Decimal(float) is exact
    frac = y - int(y.to_integral_value(rounding="ROUND_FLOOR"))
    return float(abs(frac - Decimal("0.5"))) * 1e-6


def test_round_float_agg_oracles_are_classified():
    """Grep-able inventory: the set of oracles containing a
    round(avg|sum(...)) float aggregate must equal the classified set."""
    hits = {n for n, sql in _oracles().items() if _ROUND_AGG.search(sql)}
    assert hits == set(FLOAT_AGG_CLASSES), (
        "unclassified float aggregates (classify in FLOAT_AGG_CLASSES and "
        f"add a boundary probe if non-dyadic): {hits ^ set(FLOAT_AGG_CLASSES)}"
    )


def test_quantized_twins_actually_quantize():
    """The two dyadic-quantized rows must keep the floor(x * 2^20)
    pre-quantization in their SQL twin (regression guard for the pattern
    itself — losing it reopens the round-4 ULP bug)."""
    oracles = _oracles()
    for name in ("lang_quality_rollup", "embed_norm_stats"):
        assert "floor(" in oracles[name] and "1048576" in oracles[name], name


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_dsir_kl_clear_of_round6_boundaries(sf_dir):
    """The dsir_kl ln-sums carry ~1e-12 cross-engine jitter; round-6
    absorbs it only while the unrounded value sits >= 1e-9 from a
    boundary. Assert that at every shipped sf via the prec-12 twin."""
    from isimip_qa_spark.queries.dsir import _kl_sql

    con = _duck(sf_dir)
    kl_sel, kl_raw = con.execute(_kl_sql(12)).fetchone()
    for v in (kl_sel, kl_raw):
        assert _boundary_distance(v) > 1e-9, (sf_dir, v)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_domain_diversity_clear_of_round6_boundaries(sf_dir):
    """entropy_bits and hhi sum QD-quantized dyadics (exact in any order;
    the quantization presence is asserted), so the only libm op left is
    norm_entropy's single division by log2(n_sources) — a ≤1-ulp (~1e-16)
    cross-engine exposure. Probe its prec-12 value's boundary distance at
    1e-12 (10⁴× the exposure); every `, 6)` in this oracle is a
    final-column round, so the precision swap is semantics-preserving."""
    oracle = _oracles()["domain_diversity"]
    assert "1048576) / 1048576" in oracle  # QD-quantized accumulands
    assert oracle.count(", 6)") == 4  # all four are final rounds
    con = _duck(sf_dir)
    row = con.execute(oracle.replace(", 6)", ", 12)")).df().iloc[0]
    assert _boundary_distance(float(row["norm_entropy"])) > 1e-12, (
        sf_dir,
        float(row["norm_entropy"]),
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_host_reputation_boundary(sf_dir):
    """The flagged threshold is round-6 of sum(n_docs * keep_rate) /
    sum(n_docs) — keep_rate is round-6-exact, but the product sum is
    order-sensitive. Recompute the weighted mean from the per-source rows
    and assert it sits >= 1e-9 from a round-6 boundary; also assert no
    source's keep_rate ties the corpus rate at the 6th decimal (a tie
    would make `flagged` hang on the rate's own rounding)."""
    import numpy as np

    oracle = _oracles()["host_reputation"]
    con = _duck(sf_dir)
    rates = con.execute(
        f"SELECT n_docs, keep_rate FROM ({oracle})"
    ).df()
    n = rates["n_docs"].to_numpy(dtype=np.float64)
    k = rates["keep_rate"].to_numpy(dtype=np.float64)
    corpus = float((n * k).sum() / n.sum())
    assert _boundary_distance(corpus) > 1e-9, (sf_dir, corpus)
    corpus_r6 = round(corpus, 6)
    assert not np.any(np.isclose(k, corpus_r6, rtol=0, atol=5e-13)), sf_dir


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_exp_ppl_rows_clear_of_round6_boundaries(sf_dir):
    """Per-row ppl = exp(-avg_logprob): avg_logprob is dyadic-sum-exact
    (bit-identical cross-engine), but exp is a libm call — Java Math.exp
    and DuckDB's C exp may differ by one ulp on identical input. A 1-ulp
    flip changes round-6 output only if exp's value sits within ~1 ulp of
    a boundary; assert every shipped row clears 4 ulps, for both per-row
    ppl families (perplexity kernel and ppl_stupid_backoff). The corpora
    are frozen, so this is a deterministic audit, not a flaky bound."""
    import numpy as np

    con = _duck(sf_dir)
    oracles = _oracles()
    avgs = []
    # stupid-backoff: pull the dyadic-exact prec-12 avg_logprob per doc
    sb = oracles["ppl_stupid_backoff"].replace(
        "round(sum(lp) / count(*), 6)", "round(sum(lp) / count(*), 12)"
    )
    # the probe must run at the widened precision, not the shipped one
    assert sb != oracles["ppl_stupid_backoff"]
    avgs.append(
        con.execute(f"SELECT avg_logprob FROM ({sb})").df()["avg_logprob"]
    )
    # unigram-backoff kernel family (perplexity / ppl_terciles): the
    # kernel's avg is the same dyadic sum the perplexity oracle computes
    if "perplexity" in oracles:
        p = oracles["perplexity"]
        if "avg_logprob" in p:
            avgs.append(
                con.execute(f"SELECT avg_logprob FROM ({p})").df()[
                    "avg_logprob"
                ]
            )
    for series in avgs:
        a = series.to_numpy(dtype=np.float64)
        x = np.exp(-a)
        dist = np.array([_boundary_distance(v) for v in x])
        assert (dist > 4 * np.spacing(x)).all(), (
            sf_dir,
            x[dist <= 4 * np.spacing(x)][:5],
        )
