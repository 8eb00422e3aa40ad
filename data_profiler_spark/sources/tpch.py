"""Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_profiler_spark.schemas import TPCH_SCHEMAS

TPCH_TABLES = tuple(TPCH_SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One corpus table, read with its declared schema: no footer read and
    no schema-inference job, however often a corpus pass calls it."""
    return spark.read.schema(TPCH_SCHEMAS[name]).parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
