"""ParquetTableIO CRUD semantics: upsert (keyed merge) and predicate delete —
the reference's batched keyed UPDATE (output_tables_service.py:484-520) and
per-project delete suite (delete_from_tables_by_project_number.sql) as
transactional table operations."""

from __future__ import annotations

import os


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
