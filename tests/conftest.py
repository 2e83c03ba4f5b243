from __future__ import annotations

import glob

import pytest

from airflow_etl_pyspark_inmet_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
INMET_GLOB = "/root/reference/pyspark-stack/spark-apps/data/input/*.csv"
INMET_SEED = 0


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def inmet_glob(tmp_path_factory):
    """The three reference station CSVs when they are present; otherwise
    three stations written by the benchmark's seeded FIXTURES.md §A
    generator (``perfbench/inmet_gen.py``: stations A507/A508/A509 with
    the reference metadata, 4,344 hourly rows each, dirty cells). Every
    golden assertion is the same on both; a pass without the reference
    files is a pass on generated data."""
    if glob.glob(INMET_GLOB):
        return INMET_GLOB
    from perfbench.inmet_gen import write_inmet

    d = tmp_path_factory.mktemp("inmet")
    write_inmet(str(d), 3, INMET_SEED)
    return f"{d}/*.csv"
