"""bench.py driver-contract guards (no Spark session needed): every
benched query must exist in the registry (a typo'd name would crash the
driver's per-round bench run at measurement time, the worst place), and
the calibration/banding constants must stay sane."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_bench_queries_all_registered():
    import bench
    from isimip_qa_spark.queries import QUERIES, load_all

    load_all()
    missing = [q for q in bench.BENCH_QUERIES if q not in QUERIES]
    assert not missing, missing
    # no duplicate measurements
    assert len(bench.BENCH_QUERIES) == len(set(bench.BENCH_QUERIES))
    # the round-5 driver-visible companion is benched alongside its sketch
    assert "ppl_bucket_agreement" in bench.BENCH_QUERIES


def test_band_labels():
    import bench

    assert bench._band(1_000_000) == "qa_1m"
    assert bench._band(100_000) == "qa_100k"
    assert bench._band(4_000_000) == "qa_4m"
    assert bench._band(12_345) == "qa_12345"


def test_calibration_constants_sane():
    import bench

    assert 0 < bench.CAL_REF_SEC < 60  # seconds, clean-window floor
    assert bench.CAL_N <= bench.PAGES_N or bench.PAGES_N < 50_000
