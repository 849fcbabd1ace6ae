from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def docs_pdf():
    """The smoke corpus's documents table, read with pandas (no Spark)."""
    import pandas as pd

    return pd.read_parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="session")
def spark():
    from ukis_kafka_spark.plans import get_spark

    s = get_spark("pytest")
    yield s


def _duck_con(sf_dir: str):
    import duckdb

    from ukis_kafka_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.fixture(scope="session")
def duck():
    yield _duck_con(SF_ORACLE)


@pytest.fixture(scope="session")
def duck_smoke():
    yield _duck_con(SF_SMOKE)
