from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_data_etl_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
