"""tools/check_oracles.py comparison: a query's promised-true boolean
gate must read true on both engines, not merely match (ADVICE r5)."""

from __future__ import annotations

import importlib

import pandas as pd

compare = importlib.import_module("tools.check_oracles").compare


def _agreement(ok: bool) -> pd.DataFrame:
    return pd.DataFrame({"n_docs": [1000], "agreement_ok": [ok]})


def test_agreement_false_on_both_engines_fails():
    rec = compare("ppl_bucket_agreement", _agreement(False), _agreement(False))
    assert rec["hash_match"] is True
    assert rec["err"] == "agreement_ok not true on spark; agreement_ok not true on duck"


def test_agreement_true_on_both_engines_passes():
    rec = compare("ppl_bucket_agreement", _agreement(True), _agreement(True))
    assert rec["hash_match"] is True and rec["err"] is None


def test_agreement_mismatch_fails_on_values():
    rec = compare("ppl_bucket_agreement", _agreement(True), _agreement(False))
    assert rec["hash_match"] is False
    assert rec["err"].startswith("values differ")


def test_other_queries_compare_values_only():
    rec = compare("some_query", _agreement(False), _agreement(False))
    assert rec["err"] is None
