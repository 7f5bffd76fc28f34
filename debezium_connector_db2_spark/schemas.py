"""Schemas for the CDC engine's data model.

Mirrors the reference's data model (SURVEY.md §1):

* payload: the transcript source-table row (BASELINE.json input_hint),
  PK = ``(conv_id, turn_idx)``;
* binlog event: the Db2 capture-table row (``ASNCDC.ADDTABLE`` creates
  ``IBMSNAP_COMMITSEQ, IBMSNAP_INTENTSEQ, IBMSNAP_OPERATION`` + source
  columns, reference ``asncdcaddremove.sql:77-105``) rendered Spark-native
  with monotonic BIGINT LSNs (``Lsn.java:21-181`` ordering semantics are
  preserved: unsigned total order, NULL lowest);
* the capture-registry control table (``IBMSNAP_REGISTER``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Payload (source-table) schema — BASELINE.json input_hint.
# ---------------------------------------------------------------------------
TRANSCRIPT_FIELDS = [
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
]

TRANSCRIPT_SCHEMA = T.StructType(TRANSCRIPT_FIELDS)

#: Primary key of the transcript table (Db2: PK columns become the Kafka key,
#: reference ``Db2ConnectorIT.java:202-255``).
PK_COLS = ["conv_id", "turn_idx"]

#: Non-key payload columns.
VALUE_COLS = ["role", "text", "tool", "ts"]

# ---------------------------------------------------------------------------
# Binlog (capture-table) schema.
#
# Flattened rendering: the payload columns ride at top level (the Db2 capture
# table also stores source columns inline after the 4 CDC metadata columns,
# ``Db2Connection.java:70, 396-400``).  ``op`` uses the raw capture letters
# 'I'/'U'/'D' plus 'B' for the before-image row of an update encoded as a
# separate row (Db2 UPDATE appears as two consecutive rows, opcodes 3/4 after
# LEAD/LAG classification, ``LuwPlatform.java:29-39``).
# ---------------------------------------------------------------------------
BINLOG_FIELDS = [
    T.StructField("commit_lsn", T.LongType(), False),
    T.StructField("intent_seq", T.LongType(), False),
    T.StructField("op", T.StringType(), False),  # 'I' | 'U' | 'D' | 'B'
    T.StructField("table", T.StringType(), False),
    T.StructField("schema_version", T.IntegerType(), False),
] + TRANSCRIPT_FIELDS

BINLOG_SCHEMA = T.StructType(BINLOG_FIELDS)

#: Partition column of the binlog lake layout: LSN bucket for range pruning
#: (plays the role of the unique (COMMITSEQ, INTENTSEQ) index that makes the
#: reference's range scans cheap, ``asncdcaddremove.sql:101-106``).
LSN_BUCKET_COL = "lsn_bucket"
DEFAULT_LSN_BUCKET_SIZE = 1 << 16

# ---------------------------------------------------------------------------
# Control tables (FIXTURES.md §3).
# ---------------------------------------------------------------------------
CAPTURE_REGISTRY_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType(), False),
        T.StructField("capture_instance", T.StringType(), False),
        T.StructField("start_lsn", T.LongType(), False),
        T.StructField("stop_lsn", T.LongType(), True),
        T.StructField("schema_version", T.IntegerType(), False),
        T.StructField("state", T.StringType(), False),  # 'A' active | 'I' inactive
    ]
)
