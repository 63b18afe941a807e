from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from khose_spark.session import get_spark  # noqa: E402
from khose_spark.tables import TABLES  # noqa: E402

# Local parity tests run at sf0.001 for speed; the driver's t2 gate runs
# the same pairs at sf0.01 (SURVEY.md §5.2). Override with KHOSE_TEST_SF.
SF_DIR = os.environ.get("KHOSE_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from khose_spark import memo

    spark = get_spark("khose-tests")
    yield spark
    # Drop the session memos' tables and index directories with the session.
    memo.release_all()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
