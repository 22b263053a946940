from __future__ import annotations

import os

import duckdb
import pytest

from geocube_spark import fixtures
from geocube_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("geocube-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures")
    return fixtures.generate(str(d), n_records=100)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def assert_df_matches_duckdb(spark_df, duck_con, sql, sort_cols=None, tol=1e-9):
    """Order-insensitive comparison of a Spark DataFrame vs a DuckDB query —
    the same contract as the driver's correctness gate."""
    import math

    sdf = spark_df.toPandas()
    ddf = duck_con.sql(sql).df()
    assert sorted(c.lower() for c in sdf.columns) == sorted(
        c.lower() for c in ddf.columns
    ), f"columns differ: {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    cols = sorted(sdf.columns, key=str.lower)
    sdf = sdf[cols]
    by_lower = {c.lower(): c for c in ddf.columns}
    ddf = ddf[[by_lower[c.lower()] for c in cols]]
    ddf.columns = cols  # align case
    assert len(sdf) == len(ddf), f"row counts differ: {len(sdf)} vs {len(ddf)}"

    def norm(row):
        out = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    out.append("nan")
                else:
                    out.append(round(v, 6))
            elif isinstance(v, (list, tuple)):
                out.append(tuple(round(x, 6) if isinstance(x, float) else x for x in v))
            else:
                out.append(v)
        return tuple(out)

    s_rows = sorted((norm(r) for r in sdf.itertuples(index=False)), key=repr)
    d_rows = sorted((norm(r) for r in ddf.itertuples(index=False)), key=repr)
    assert s_rows == d_rows, (
        f"value mismatch.\nspark head: {s_rows[:3]}\nduck head:  {d_rows[:3]}"
    )
