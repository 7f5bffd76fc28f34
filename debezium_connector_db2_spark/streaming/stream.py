"""Structured Streaming front-end: binlog tail -> foreachBatch MERGE.

The engine's native loop (``CdcEngine.run_available``) is an
``availableNow``-style driver; this module runs the same kernel under
Spark Structured Streaming proper (T1/T2 as a real ``StreamingQuery``):

* source: parquet file stream over the LSN-bucketed binlog directory
  (``maxFilesPerTrigger`` = admission control, the reference's
  ``max.batch.size``/timespan bounding S6);
* sink: ``foreachBatch`` running the engine's batch kernel
  (``normalize_changes`` → last-writer dedup → MERGE) into a
  **versioned** lake table.  The file source does not guarantee LSN
  ordering across micro-batches, so the sink's per-row
  ``(__commit_lsn, __intent_seq)`` argmax makes application
  order-insensitive — exactly-once final state even if Spark replays or
  reorders a batch (batch-id idempotence is layered on top);
* checkpointing: Spark's own streaming checkpoint tracks consumed files;
  the lake's committed-batch-id set closes the sink side of the
  exactly-once contract (T4).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.operators.dedup import latest_per_key
from debezium_connector_db2_spark.schemas import (
    BINLOG_SCHEMA,
    LSN_BUCKET_COL,
    PK_COLS,
)
from debezium_connector_db2_spark.streaming.checkpoint import create_or_adopt
from debezium_connector_db2_spark.streaming.engine import normalize_changes


class StreamingCdc:
    def __init__(
        self,
        spark: SparkSession,
        binlog_dir: str,
        target: LakeTable,
        checkpoint_dir: str,
        table: str = "transcripts",
        pk_cols: Sequence[str] = tuple(PK_COLS),
        max_files_per_trigger: int | None = None,
        schema=None,
    ):
        if not target.manifest().get("versioned", False):
            raise ValueError(
                "StreamingCdc requires a versioned LakeTable "
                "(LakeTable.create(..., versioned=True)): a file stream may "
                "deliver LSN ranges out of order across micro-batches"
            )
        self.spark = spark
        self.binlog_dir = binlog_dir
        self.target = target
        self.checkpoint_dir = checkpoint_dir
        self.table = table
        self.pk_cols = list(pk_cols)
        self.max_files_per_trigger = max_files_per_trigger
        self.schema = schema or BINLOG_SCHEMA

    def _run_id(self) -> str:
        """Stable per-checkpoint identity namespacing sink batch ids.

        Spark epoch ids restart at 0 when the streaming checkpoint is
        deleted or a new query points at the same lake table; a bare
        ``stream-{epoch}`` id would then silently no-op fresh batches as
        already committed.  The id lives *inside* the checkpoint dir, so
        deleting the checkpoint (the reset case) rotates it.
        """
        import os
        import uuid

        return create_or_adopt(os.path.join(self.checkpoint_dir, "lake-run-id"),
                               lambda: uuid.uuid4().hex[:12])

    def _apply(self, batch: DataFrame, epoch_id: int) -> None:
        """Per-micro-batch MERGE: the engine's normalization, then
        last-writer dedup."""
        flat = normalize_changes(batch, self.table, self.target)
        latest = latest_per_key(flat, self.pk_cols, ("commit_lsn", "intent_seq"))
        self.target.merge_changes(
            latest, self.pk_cols, op_col="op", delete_op="d",
            batch_id=f"stream-{self._run_id()}-{epoch_id}",
            summary={"operation": "stream-merge", "epoch": epoch_id},
        )

    def start(self, available_now: bool = True, processing_time: str | None = None):
        from pyspark.sql import types as T

        schema = T.StructType(
            list(self.schema.fields)
            + [T.StructField(LSN_BUCKET_COL, T.LongType(), True)]
        )
        reader = self.spark.readStream.schema(schema)
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.parquet(self.binlog_dir)

        writer = (
            stream.writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_available(self) -> None:
        """Drain everything currently in the binlog and stop."""
        q = self.start(available_now=True)
        q.awaitTermination()
