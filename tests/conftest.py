from __future__ import annotations

import pytest

from automated_agro_climatic_data_warehouse_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
