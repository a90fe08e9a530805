from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from isimip_qa_spark.session import get_spark

    s = get_spark(
        app_name="isimip-qa-tests", master="local[4]", shuffle_partitions=4
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def pages_pdf():
    """2,000 deterministic synthetic pages as pandas (oracle side)."""
    import numpy as np

    from isimip_qa_spark.sources.pages import pages_pandas

    return pages_pandas(np.arange(2000))


@pytest.fixture(scope="session")
def pages_sdf(spark):
    """The same 2,000 pages generated distributed."""
    from isimip_qa_spark.sources.pages import pages_df

    return pages_df(spark, 2000, num_partitions=8)
