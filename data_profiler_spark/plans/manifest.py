"""Resumable per-partition manifest — the engine's only commit record.

The reference only gestures at this: "keep track … pick up where it left
off. For now, just delete" (/root/reference/data_profiler/services/
transform_service.py:213-214) and instead runs a compensating delete on
failure (data_profiler.py:374-379). Here it is real: one manifest row per
completed logical partition — (partition_id, snapshot_id, status, rows,
metrics_json, wall_ms) — and a restart skips the partitions it names.

Output tables written by an interrupted run carry its snapshot_id; since
the manifest row for a partition is committed only *after* its outputs, a
crash leaves orphan output rows that reads drop by a left-semi join on the
manifest's snapshot ids (:meth:`Manifest.committed`) — i.e. reads are
snapshot-consistent without any compensating delete. Every "what is
committed?" question (resume set, committed reads, stream replay guard) is
one read of the done rows (:meth:`Manifest._done`); the table IO keeps no
lineage of its own.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_profiler_spark.functions.frames import local_frame
from data_profiler_spark.schemas import MANIFEST_SCHEMA
from data_profiler_spark.sources.tableio import TableIO

MANIFEST_TABLE = "manifest"


class Manifest:
    def __init__(self, io: TableIO, spark: SparkSession, table: str = MANIFEST_TABLE):
        """``table`` namespaces the lineage: batch runs use the default
        'manifest'; the streaming path writes 'manifest_stream' so a later
        batch run's completed_partitions() never skips logical partitions
        that a micro-batch only ever validated for a subset of rows
        (streaming/stream_validate.py)."""
        self.io = io
        self.spark = spark
        self.table = table

    def _done(self) -> DataFrame | None:
        """The committed (status 'done') manifest rows; None before any
        commit, so an absent table costs no Spark job, and read with the
        declared schema, so a present one costs no schema-inference job."""
        if not self.io.exists(self.spark, self.table):
            return None
        done = self.io.read(self.spark, self.table, schema=MANIFEST_SCHEMA)
        return done.filter("status = 'done'")

    def completed_partitions(self) -> set[int]:
        """Logical partitions a run has committed — the resume skip set."""
        done = self._done()
        if done is None:
            return set()
        return {r[0] for r in done.select("partition_id").distinct().collect()}

    def committed(self, df: DataFrame) -> DataFrame:
        """The rows of ``df`` (an output table) whose ``snapshot_id`` a done
        manifest row names: a left-semi join, so the plan is the same size
        however many runs have committed. No rows before any commit."""
        done = self._done()
        if done is None:
            return df.limit(0)
        return df.join(done.select("snapshot_id"), "snapshot_id", "left_semi")

    def has_batch(self, batch_id: int) -> bool:
        """Stream idempotence: whether a done row records ``batch_id`` as its
        ``stream_batch_id`` (validate_stream's extra metric) — a micro-batch
        replayed after a crash that already committed its manifest rows is
        skipped instead of re-appended. One filtered existence query."""
        done = self._done()
        if done is None:
            return False
        batch = F.get_json_object("metrics_json", "$.stream_batch_id")
        return not done.filter(batch == str(int(batch_id))).isEmpty()

    def commit(
        self,
        partition_stats: list[dict],
        snapshot_id: str,
        wall_ms: int,
    ) -> None:
        """Record completed partitions. ``partition_stats``: one dict per
        partition with keys partition_id / rows / metrics."""
        rows = [
            (
                int(p["partition_id"]),
                snapshot_id,
                "done",
                int(p.get("rows", 0)),
                json.dumps(p.get("metrics", {}), sort_keys=True),
                int(wall_ms),
            )
            for p in partition_stats
        ]
        df = local_frame(self.spark, rows, MANIFEST_SCHEMA)
        self.io.append(df, self.table)
