"""Table IO seam: Iceberg in production, parquet directories in tests.

BASELINE.json declares Iceberg tables; this sandbox has no Iceberg runtime
jar (verified: none in the pyspark 4.1.2 jars, no network), so all engine
logic is written against this interface (SURVEY.md §7):

- :class:`IcebergTableIO` — the production path (`format("iceberg")`).
  Import-guarded: constructing it without the runtime raises with
  instructions rather than failing mid-job.
- :class:`ParquetTableIO` — one parquet directory per table.

Writes return nothing: the engine's only commit record is the resume
manifest (plans/manifest.py), whose rows name the snapshot id each run
stamps on its output rows. Reads trust that record, not any per-write
table history.
"""

from __future__ import annotations

import os
import shutil
import uuid
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class TableIO(ABC):
    @abstractmethod
    def read(
        self, spark: SparkSession, table: str, *, schema: StructType | None = None
    ) -> DataFrame:
        """``schema``: the table's declared schema (schemas.py), which spares
        a file-backed read its schema-inference job. A catalog table carries
        its own schema and ignores it."""

    @abstractmethod
    def append(self, df: DataFrame, table: str) -> None: ...

    @abstractmethod
    def overwrite(self, df: DataFrame, table: str) -> None: ...

    @abstractmethod
    def exists(self, spark: SparkSession, table: str) -> bool: ...

    @abstractmethod
    def upsert(self, df: DataFrame, table: str, key: str) -> None:
        """Keyed update-or-insert — the reference's batched keyed UPDATE
        (output_tables_service.py:484-520, 1k-row batches with a "real slow"
        comment) re-expressed as one transactional merge. Iceberg: MERGE
        INTO. Parquet (test path): anti-join + union + atomic dir swap."""

    @abstractmethod
    def delete_where(self, spark: SparkSession, table: str, predicate: str) -> None:
        """Predicate delete — the reference's per-project delete suite
        (resources/sql/PROD/delete/delete_from_tables_by_project_number.sql,
        child-before-parent ordering at database/helpers/constants.py:144-162).
        Lake tables have no FK ordering constraint; one DELETE WHERE per
        table suffices and Iceberg makes it a metadata-level commit when the
        predicate aligns with partitioning."""


class ParquetTableIO(TableIO):
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def read(
        self, spark: SparkSession, table: str, *, schema: StructType | None = None
    ) -> DataFrame:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self._path(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(self._path(table))

    def overwrite(self, df: DataFrame, table: str) -> None:
        df.write.mode("overwrite").parquet(self._path(table))

    def exists(self, spark: SparkSession, table: str) -> bool:
        p = self._path(table)
        return os.path.exists(p) and any(f.endswith(".parquet") for f in os.listdir(p))

    def _rewrite(self, df: DataFrame, table: str) -> None:
        """Materialize ``df`` beside the table, then atomically swap dirs —
        Spark cannot overwrite a path that feeds the very plan being
        executed (lazy scan of the old files)."""
        path = self._path(table)
        tmp, old = f"{path}__tmp_{uuid.uuid4().hex[:8]}", f"{path}__old"
        df.write.parquet(tmp)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)

    def upsert(self, df: DataFrame, table: str, key: str) -> None:
        if not self.exists(df.sparkSession, table):
            self.overwrite(df, table)
            return
        existing = self.read(df.sparkSession, table)
        kept = existing.join(df.select(key).distinct(), key, "left_anti")
        self._rewrite(kept.unionByName(df), table)

    def delete_where(self, spark: SparkSession, table: str, predicate: str) -> None:
        self._rewrite(self.read(spark, table).filter(~F.expr(predicate)), table)


class IcebergTableIO(TableIO):
    """Production path. Requires iceberg-spark-runtime on the classpath and a
    catalog conf, e.g.::

        spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.lake.type = hadoop|hive|rest
    """

    def __init__(self, spark: SparkSession, catalog: str = "lake", namespace: str = "profiler"):
        try:
            spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: B018
        except Exception as e:  # pragma: no cover - no iceberg jar in sandbox
            raise RuntimeError(
                "Iceberg runtime not on the classpath; add "
                "iceberg-spark-runtime and a spark.sql.catalog.* conf, or use "
                "ParquetTableIO for local runs."
            ) from e
        self.catalog, self.namespace = catalog, namespace

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def read(
        self, spark: SparkSession, table: str, *, schema: StructType | None = None
    ) -> DataFrame:  # pragma: no cover
        return spark.read.format("iceberg").load(self._ident(table))

    def append(self, df: DataFrame, table: str) -> None:  # pragma: no cover
        df.writeTo(self._ident(table)).append()

    def overwrite(self, df: DataFrame, table: str) -> None:  # pragma: no cover
        df.writeTo(self._ident(table)).createOrReplace()

    def exists(self, spark: SparkSession, table: str) -> bool:  # pragma: no cover
        return spark.catalog.tableExists(self._ident(table))

    def upsert(self, df: DataFrame, table: str, key: str) -> None:  # pragma: no cover
        spark = df.sparkSession
        view = f"__upsert_src_{uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(view)
        spark.sql(
            f"MERGE INTO {self._ident(table)} t USING {view} s ON t.{key} = s.{key} "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        spark.catalog.dropTempView(view)

    def delete_where(self, spark: SparkSession, table: str, predicate: str) -> None:  # pragma: no cover
        spark.sql(f"DELETE FROM {self._ident(table)} WHERE {predicate}")
