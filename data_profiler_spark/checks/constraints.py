"""Constraint checks: PK null/empty, uniqueness, referential integrity,
consistency — each emits a *violations* DataFrame (VIOLATION_SCHEMA) and the
suite aggregates per-partition pass/fail *verdicts* (VERDICT_SCHEMA).

Reference semantics being re-expressed (file:line in /root/reference):
- PK null/empty check: ``check_primary_key_values_not_null``
  (data_profiler/helpers/functions/functions.py:57-64), called from
  data_directory.py:304-309 — a :func:`row_level_violations` spec.
- FK ⊆ PK referential check: ``get_fk_values_not_in_pk_values``
  (functions.py:68-78) — a hand-rolled set difference; here
  :func:`key_violations` (SURVEY.md J7/U1): the sides' keys tagged by side
  and counted per side in ONE groupBy(key) — one exchange, no join, so no
  hash-join build side. Uniqueness is a spec over the same counts.
- verdict objects: FileValidation / DataDirectoryValidation booleans +
  error lists (helpers/models/DataFiles.py:52-77) → typed DataFrames here,
  with the "first-10 offending keys" sampling of data_directory.py:306-356
  available via ``violations.limit(k)`` at report time; the metadata-sized
  checks × partitions grid is built driver-side (:func:`verdict_rows`).

Scale notes: all checks are pure DataFrame ops (filters, groupBy counts)
→ map-side combinable, AQE-skew-safe, no driver-side data. ``partition_id``
is a deterministic hash bucket of the PK so verdicts stay per-partition and
a resumed run reproduces identical bucket assignment (SURVEY.md §7).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.functions.frames import local_frame
from data_profiler_spark.schemas import VERDICT_SCHEMA

DEFAULT_PARTITIONS = 32


def with_partition_id(df: DataFrame, n_partitions: int = DEFAULT_PARTITIONS, key: str = "clip_id") -> DataFrame:
    """Stable logical-partition id: pmod(xxhash64(key), n). Null keys → bucket 0."""
    pid = F.when(F.col(key).isNull(), F.lit(0)).otherwise(
        F.pmod(F.xxhash64(F.col(key)), F.lit(n_partitions))
    )
    return df.withColumn("partition_id", pid.cast("int"))


def row_level_violations(
    df: DataFrame,
    specs: list[tuple],
    key: str = "clip_id",
) -> DataFrame:
    """Fuse N row-level checks into ONE scan (no joins, no shuffle).

    ``specs``: (check_name, condition Column, detail Column). Each row emits
    an array of matched-check structs, compacted and exploded — so adding a
    check costs zero extra passes over the table. This is how pk_not_null /
    not_null / decodable / dur-consistency run inside ValidationRun: at
    10^12 rows the dominant cost is the scan, and this keeps it at exactly
    one (fixed per-job overhead matters even locally).
    """
    entries = [
        F.when(
            cond,
            F.struct(
                F.lit(name).alias("check_name"), detail.cast("string").alias("detail")
            ),
        )
        for name, cond, detail in specs
    ]
    pid = F.col("partition_id") if "partition_id" in df.columns else F.lit(None)
    return (
        df.select(
            F.col(key).cast("string").alias("clip_id"),
            pid.cast("int").alias("partition_id"),
            F.explode(F.array_compact(F.array(*entries))).alias("__v"),
        )
        .select(
            F.col("__v.check_name").alias("check_name"),
            "clip_id",
            "partition_id",
            F.col("__v.detail").alias("detail"),
        )
    )


def key_violations(
    sides: dict[str, DataFrame],
    key: str,
    specs: list[tuple],
    n_partitions: int = DEFAULT_PARTITIONS,
) -> DataFrame:
    """Key checks over one or more tables from ONE groupBy(key).

    Each side is projected to ``key`` and tagged with a 0/1 column per side
    name; the union, NULL keys dropped, is grouped by ``key`` summing each
    tag into a count column named after its side. ``specs`` are
    :func:`row_level_violations` specs over those counts — uniqueness of
    ``t`` is ``F.col(t) > 1``, FK ⊆ PK is
    ``(F.col(child) > 0) & (F.col(parent) == 0)`` — so each failing key
    yields one row per spec, in its with_partition_id bucket. The sides'
    key columns must share one type.
    """
    names = list(sides)
    tagged = reduce(
        DataFrame.unionByName,
        [
            df.select(key, *(F.lit(int(n == side)).alias(n) for n in names))
            for side, df in sides.items()
        ],
    )
    counts = (
        tagged.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(*(F.sum(n).alias(n) for n in names))
    )
    return row_level_violations(with_partition_id(counts, n_partitions, key=key), specs, key=key)


def check_schema(df: DataFrame, expected, name: str = "schema_conformance") -> tuple[bool, list[str]]:
    """Driver-side header/type validation — the analog of the reference's
    required/unexpected column checks (data_file_functions.py:42-54).

    Returns (passed, errors). Pure metadata, no job.
    """
    errors: list[str] = []
    actual = {f.name: f.dataType for f in df.schema.fields}
    for f in expected.fields:
        if f.name not in actual:
            errors.append(f"missing column: {f.name}")
        elif actual[f.name] != f.dataType:
            errors.append(f"type mismatch {f.name}: {actual[f.name]} != {f.dataType}")
    for c in actual:
        if c not in {f.name for f in expected.fields}:
            errors.append(f"unexpected column: {c}")
    return (not errors, errors)


def verdict_rows(
    check_names: list[str],
    rows_per_partition: dict[int, int],
    counts: dict[tuple[str, int], int],
) -> list[dict]:
    """The checks × partitions verdict grid as VERDICT_SCHEMA dicts, from
    (check_name, partition_id) → violation ``counts``: a clean partition
    gets an explicit PASS row (the reference's is_valid=True path,
    models/DataFiles.py:52-77); counts for partitions missing from
    ``rows_per_partition`` are dropped."""
    return [
        {
            "check_name": c,
            "partition_id": p,
            "passed": counts.get((c, p), 0) == 0,
            "violation_count": int(counts.get((c, p), 0)),
            "rows_checked": int(rows),
            "detail": None,
        }
        for c in check_names
        for p, rows in rows_per_partition.items()
    ]


def verdicts(
    violations: DataFrame,
    totals: DataFrame,
    check_names: list[str],
) -> DataFrame:
    """Per-(check, partition) pass/fail from a union of violation frames.

    ``totals`` = (partition_id, rows_checked) for the table under test. ONE
    collect brings back the totals and the (check_name, partition_id)
    violation counts — at most |partitions| + |checks| × |partitions| rows —
    and :func:`verdict_rows` builds the grid driver-side.
    """
    rows = (
        totals.select(
            F.lit(None).cast("string").alias("check_name"),
            F.col("partition_id").cast("int"),
            F.col("rows_checked").cast("long").alias("n"),
        )
        .unionByName(
            violations.groupBy("check_name", "partition_id").agg(F.count(F.lit(1)).alias("n"))
        )
        .collect()
    )
    per_part = {r["partition_id"]: r["n"] for r in rows if r["check_name"] is None}
    counts = {(r["check_name"], r["partition_id"]): r["n"] for r in rows if r["check_name"] is not None}
    # local_frame (Arrow): a pure JVM local relation, where the pickled-rows
    # path drags a Python-worker stage into every job that reads the grid
    return local_frame(
        violations.sparkSession, verdict_rows(check_names, per_part, counts), VERDICT_SCHEMA
    )
