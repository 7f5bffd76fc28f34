"""PySpark-native CDC / incremental-ingest engine.

A brand-new engine with the query and data-processing capabilities of the
Debezium Db2 connector (reference: /root/reference, debezium-connector-db2),
re-expressed Spark-first:

* the reference's serial k-way-merge streaming loop
  (``Db2StreamingChangeEventSource.java:114-308``) becomes a data-parallel
  micro-batch pipeline: LSN-range scan -> opcode classification (lead/lag)
  -> update pairing -> per-key last-writer-wins dedup -> MERGE into a
  versioned lake table;
* the Kafka topic sink becomes an idempotent ``MERGE INTO`` against a
  snapshot-versioned parquet lake table (mini-Iceberg: atomic manifest
  commits, schema evolution, batch-id idempotence);
* offsets (``Db2OffsetContext.java:66-80``) become a checkpointed
  ``(commit_lsn, intent_seq, event_serial_no)`` position plus one
  lineage row per applied batch.

Everything is DataFrame-native; Python touches data only through
Arrow-vectorized pandas UDFs (never per-row).
"""

from debezium_connector_db2_spark.schemas import (
    BINLOG_SCHEMA,
    TRANSCRIPT_SCHEMA,
)
from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.sources.registry import CaptureRegistry
from debezium_connector_db2_spark.functions.envelope import (
    skip_operations,
    unwrap_envelope,
    wrap_envelope,
)
from debezium_connector_db2_spark.streaming.engine import (
    CdcEngine,
    SchemaChange,
    export_envelope_multi,
    run_all_with_repair,
)
from debezium_connector_db2_spark.streaming.feed import (
    FeedConsumer,
    FeedPublisher,
    MultiFeedPublisher,
)
from debezium_connector_db2_spark.streaming.notifications import NotificationLog
from debezium_connector_db2_spark.streaming.signals import SignalChannel

__all__ = [
    "BINLOG_SCHEMA",
    "TRANSCRIPT_SCHEMA",
    "LakeTable",
    "BinlogSource",
    "CaptureRegistry",
    "CdcEngine",
    "SchemaChange",
    "run_all_with_repair",
    "export_envelope_multi",
    "FeedPublisher",
    "FeedConsumer",
    "MultiFeedPublisher",
    "NotificationLog",
    "SignalChannel",
    "wrap_envelope",
    "unwrap_envelope",
    "skip_operations",
]

__version__ = "0.1.0"
