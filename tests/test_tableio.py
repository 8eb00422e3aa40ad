"""ParquetTableIO CRUD semantics: upsert (keyed merge) and predicate delete —
the reference's batched keyed UPDATE (output_tables_service.py:484-520) and
per-project delete suite (delete_from_tables_by_project_number.sql) as
transactional table operations."""

from __future__ import annotations

import glob
import os

from data_profiler_spark.schemas import MANIFEST_SCHEMA
from data_profiler_spark.sources.tpch import DEFAULT_SF_DIR, TPCH_TABLES, load_table


def _rows(io, spark, table):
    return {
        (r["k"], r["v"]) for r in io.read(spark, table).collect()
    }


def test_upsert_updates_and_inserts(spark, tmp_io):
    df1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    tmp_io.overwrite(df1, "t")
    df2 = spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string")
    tmp_io.upsert(df2, "t", key="k")
    assert _rows(tmp_io, spark, "t") == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_upsert_on_missing_table_creates_it(spark, tmp_io):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    tmp_io.upsert(df, "fresh", key="k")
    assert _rows(tmp_io, spark, "fresh") == {(1, "a")}


def test_delete_where(spark, tmp_io):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (10, "x")], "k int, v string"
    )
    tmp_io.overwrite(df, "t")
    tmp_io.delete_where(spark, "t", "k >= 3")
    assert _rows(tmp_io, spark, "t") == {(1, "a"), (2, "b")}


def test_writes_leave_only_table_directories(spark, tmp_io):
    """The table IO keeps no lineage of its own (the manifest is the only
    commit record): after every kind of write the root holds one directory
    per table and nothing else — no ledger file, no leftover swap dir."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    tmp_io.append(df, "a")
    tmp_io.append(df, "a")
    tmp_io.overwrite(df, "o")
    tmp_io.upsert(df, "u", key="k")  # creates
    tmp_io.upsert(df, "u", key="k")  # merges (atomic dir swap)
    tmp_io.overwrite(df, "d")
    tmp_io.delete_where(spark, "d", "k = 1")
    entries = sorted(os.listdir(tmp_io.root))
    assert entries == ["a", "d", "o", "u"]
    assert all(os.path.isdir(os.path.join(tmp_io.root, e)) for e in entries)


# Every TPC-H-ish table directory the engine reads: the test tables at each
# scale factor beside DEFAULT_SF_DIR and the benchmark's copies.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIRS = sorted(
    glob.glob(os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf*"))
    + glob.glob(os.path.join(_REPO, "perfbench", "data", "sf*"))
)


def test_tpch_declared_schemas_match_files(spark):
    assert SF_DIRS
    for sf_dir in SF_DIRS:
        for t in TPCH_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            assert load_table(spark, sf_dir, t).schema == spark.read.parquet(path).schema, path


def test_load_table_runs_no_job(spark, tmp_io):
    """A declared-schema read plans without touching the files: no
    schema-inference job for a corpus table, nor for a table read through
    ParquetTableIO with its declared schema."""
    tmp_io.append(spark.createDataFrame([(0, "s", "done", 1, "{}", 1)], MANIFEST_SCHEMA), "m")
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    frames = [load_table(spark, SF_DIRS[0], t) for t in TPCH_TABLES]
    frames.append(tmp_io.read(spark, "m", schema=MANIFEST_SCHEMA))
    assert all(df.columns for df in frames)
    bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup()) == before
