"""Contract tests for IcebergTableIO's emitted SQL.

The sandbox has no iceberg-spark-runtime jar (SURVEY.md §7), so the
production path cannot execute here — but the SQL it would emit CAN be
pinned: these tests drive IcebergTableIO against a recording stub of the
SparkSession/DataFrame surface and assert statement text and call order
(MERGE INTO shape, delete predicate). A regression in the merge clause now
fails a test instead of surfacing on a real cluster. Writes run no
snapshot query: the resume manifest is the engine's only commit record.
"""

from __future__ import annotations

from data_profiler_spark.sources.tableio import IcebergTableIO


class _Catalog:
    def __init__(self, log):
        self._log = log

    def dropTempView(self, name):
        self._log.append(("dropTempView", name))

    def tableExists(self, ident):
        self._log.append(("tableExists", ident))
        return True


class _FakeSpark:
    def __init__(self):
        self.log = []
        self.catalog = _Catalog(self.log)

    def sql(self, statement):
        self.log.append(("sql", " ".join(statement.split())))


class _FakeWriter:
    def __init__(self, log, ident):
        self._log, self._ident = log, ident

    def append(self):
        self._log.append(("writeTo.append", self._ident))

    def createOrReplace(self):
        self._log.append(("writeTo.createOrReplace", self._ident))


class _FakeDF:
    def __init__(self, spark):
        self.sparkSession = spark

    def createOrReplaceTempView(self, name):
        self.sparkSession.log.append(("createView", name))

    def writeTo(self, ident):
        return _FakeWriter(self.sparkSession.log, ident)


def _io(spark) -> IcebergTableIO:
    # bypass __init__'s jar probe (no iceberg runtime in the sandbox); the
    # point is the SQL the instance emits, not the classpath check
    io = object.__new__(IcebergTableIO)
    io.catalog, io.namespace = "lake", "profiler"
    return io


def test_upsert_emits_merge_then_drops_view():
    spark = _FakeSpark()
    io = _io(spark)
    io.upsert(_FakeDF(spark), "clips", key="clip_id")

    kinds = [k for k, _ in spark.log]
    # merge commits, then the temp source view is dropped; nothing else
    assert kinds == ["createView", "sql", "dropTempView"]

    (_, view), (_, merge), (_, dropped) = spark.log
    assert view == dropped  # temp source view is cleaned up
    assert merge == (
        f"MERGE INTO lake.profiler.clips t USING {view} s "
        "ON t.clip_id = s.clip_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )


def test_append_and_overwrite_route_through_writeTo():
    spark = _FakeSpark()
    io = _io(spark)
    io.append(_FakeDF(spark), "verdicts")
    io.overwrite(_FakeDF(spark), "baseline_hist")
    assert spark.log == [
        ("writeTo.append", "lake.profiler.verdicts"),
        ("writeTo.createOrReplace", "lake.profiler.baseline_hist"),
    ]


def test_delete_where_emits_predicate_delete():
    spark = _FakeSpark()
    io = _io(spark)
    io.delete_where(spark, "violations", "snapshot_id = 'abc'")
    assert spark.log == [
        ("sql", "DELETE FROM lake.profiler.violations WHERE snapshot_id = 'abc'"),
    ]


def test_exists_uses_catalog_with_full_identifier():
    spark = _FakeSpark()
    io = _io(spark)
    assert io.exists(spark, "clips") is True
    assert spark.log == [("tableExists", "lake.profiler.clips")]
