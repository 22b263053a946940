"""Bucketed catalog tables (sources/bucketed.py): the co-located J1 join
must be EXCHANGE-FREE and SORT-FREE — the write-once layout replaces the
per-query shuffle — and must return exactly the plain join's rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from geocube_spark.sources.bucketed import bucketed_join, ensure_bucketed_catalog


@pytest.fixture(scope="module")
def tables(spark, fixture_dir):
    return ensure_bucketed_catalog(spark, fixture_dir, n_buckets=8)


def test_join_plan_has_no_exchange(spark, tables):
    dt, rt = tables
    q = bucketed_join(spark, dt, rt)._jdf.queryExecution()
    plan = q.executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-location proved from bucket metadata
    assert "Bucketed: true" in plan
    # the residual per-partition Sort is in-memory and network-free;
    # Spark 3+ does not trust sortBy metadata at read time by default
    # (SPARK-28621 made bucketedTableScan.outputOrdering legacy)


def test_second_registration_rewrites_no_file(spark, fixture_dir, tables):
    """A new session has no bucket spec for the tables: dropping them stands
    in for that.  Registering again reuses the cached files as they are."""
    out = os.path.join(fixture_dir, "bucketed_catalog_8")

    def files():
        return {
            os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
            for d, _, names in os.walk(out)
            for n in names
        }

    before = files()
    for t in tables:
        spark.sql(f"DROP TABLE {t}")
    assert ensure_bucketed_catalog(spark, fixture_dir, n_buckets=8) == tables
    assert files() == before and before
    plan = bucketed_join(spark, *tables)._jdf.queryExecution().executedPlan()
    assert "Exchange" not in plan.toString()


def test_bucketed_join_matches_plain_join(spark, fixture_dir, tables):
    dt, rt = tables
    got = {
        (r["id"], r["name"])
        for r in bucketed_join(spark, dt, rt).select("id", "name").collect()
    }
    datasets = spark.read.parquet(f"{fixture_dir}/datasets.parquet")
    records = spark.read.parquet(f"{fixture_dir}/records.parquet")
    want = {
        (r["id"], r["name"])
        for r in datasets.join(
            records.select(F.col("id").alias("record_id"), "name"), "record_id"
        ).select("id", "name").collect()
    }
    assert got == want and got
