"""Bucketed catalog tables: shuffle-free fact⋈fact joins at 100 TB.

The catalog's hottest join is datasets⋈records on record_id (J1 and every
cube read).  At fleet scale BOTH sides are too big to broadcast, so the
plain plan shuffles the fact table on every query.  Hive-style bucketing
(``DataFrameWriter.bucketBy`` — files pre-hash-partitioned AND pre-sorted
by the join key, bucket count recorded in the table catalog) moves that
shuffle to WRITE time, once: a SortMergeJoin of two tables bucketed by
the same key and count needs NO Exchange and NO Sort on either side —
Catalyst proves the co-location from table metadata.

This is the Spark-native equivalent of the reference's PostGIS-side
btree(record_id) clustering: the storage layout IS the optimization.
``tests/test_bucketed.py`` asserts the exchange-free plan; the
``bucketed_catalog_join`` registry query hash-checks the results against
the DuckDB oracle (bucketing must never change answers).
"""

from __future__ import annotations

import hashlib
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ensure_bucketed_catalog(
    spark: SparkSession, fixture_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Write the fixture datasets/records once, in the fixture cache, as
    co-bucketed files (same key, same bucket count — the co-location
    precondition; ONE file per bucket), and register them in this session
    as external tables; returns the two table names.  Every session
    registers the files again and none rewrites them.  Spark 3+ keeps a
    residual in-partition Sort under the SMJ (SPARK-28621); the ELIMINATED
    operator is the Exchange — the only one that costs network at 100 TB."""
    from geocube_spark import fixtures

    out = os.path.join(os.path.abspath(fixture_dir), f"bucketed_catalog_{n_buckets}")
    tag = hashlib.sha1(out.encode()).hexdigest()[:10]
    frames = {
        "datasets": spark.read.parquet(f"{fixture_dir}/datasets.parquet").select(
            "id", "record_id", "instance_id", "container_uri", "status"
        ),
        "records": spark.read.parquet(f"{fixture_dir}/records.parquet").select(
            F.col("id").alias("record_id"), "name", "datetime"
        ),
    }
    tables = {name: f"gc_bucketed_{name}_{tag}" for name in frames}

    def build():
        for name, df in frames.items():
            (
                df.repartition(n_buckets, "record_id")
                .write.mode("overwrite").option("path", f"{out}/{name}")
                .bucketBy(n_buckets, "record_id")
                .sortBy("record_id")
                .saveAsTable(tables[name])
            )

    fixtures.materialize_once(
        out,
        build,
        inputs=[f"{fixture_dir}/{name}.parquet" for name in frames],
        code=[sys.modules[__name__]],
    )
    for name, table in tables.items():
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} ({frames[name].schema.toDDL()})"
            f" USING parquet CLUSTERED BY (record_id) SORTED BY (record_id)"
            f" INTO {n_buckets} BUCKETS LOCATION '{out}/{name}'"
        )
    return tables["datasets"], tables["records"]


def bucketed_join(spark: SparkSession, dt: str, rt: str) -> DataFrame:
    """J1 over the co-bucketed tables.  The merge hint pins SortMergeJoin
    so the plan demonstrably carries ZERO Exchange (a broadcast would
    also be shuffle-free here but only because the fixture dim is small —
    the bucketed SMJ is the shape that still holds when records is
    petabyte-sized)."""
    d = spark.table(dt)
    r = spark.table(rt)
    return d.hint("merge").join(r, "record_id")
