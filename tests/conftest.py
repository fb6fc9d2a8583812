from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR_SMALL = "/root/testdata/sf0.001"
SF_DIR_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from vlm_data_pipeline_spark.session import _env_cpus, get_spark

    spark = get_spark("vlm-tests", cpus=_env_cpus(default=8))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR_SMALL
