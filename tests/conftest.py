from __future__ import annotations

import duckdb
import pytest

from dtle_spark.tableio import TABLES
from dtle_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dtle_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(rows, colnames):
    """Mirror the driver's compare: sort columns by name, then sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def key(v):
        if isinstance(v, float):
            return repr(v)
        return str(v)

    out = [tuple(key(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def assert_matches_oracle(sdf, duck_con, sql):
    """Assert ``sdf`` equals the oracle's result; returns the collected rows."""
    actual_cols = sdf.columns
    actual = [tuple(r) for r in sdf.collect()]
    res = duck_con.execute(sql)
    expected_cols = [d[0] for d in res.description]
    expected = res.fetchall()
    assert sorted(actual_cols) == sorted(expected_cols), (
        f"column mismatch: {actual_cols} vs {expected_cols}"
    )
    na, ne = normalize(actual, actual_cols), normalize(expected, expected_cols)
    assert len(na) == len(ne), f"row count {len(na)} != {len(ne)}"
    mismatches = [(a, e) for a, e in zip(na, ne) if a != e]
    assert not mismatches, f"{len(mismatches)} mismatching rows; first: {mismatches[0]}"
    return actual
