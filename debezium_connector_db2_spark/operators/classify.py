"""Opcode classification and update pairing (SURVEY.md §2 J3/J4, W1/W2, C1).

The reference derives a change-event opcode from the raw capture-table
operation letter with LEAD/LAG over ``(PARTITION BY IBMSNAP_COMMITSEQ ORDER
BY IBMSNAP_INTENTSEQ)``::

    CASE
      WHEN IBMSNAP_OPERATION = 'D' AND LEAD(op)='I' THEN 3  -- update before
      WHEN IBMSNAP_OPERATION = 'I' AND LAG(op)='D'  THEN 4  -- update after
      WHEN IBMSNAP_OPERATION = 'D' THEN 1                   -- delete
      WHEN IBMSNAP_OPERATION = 'I' THEN 2                   -- insert
    END

(``LuwPlatform.java:29-39``; opcode constants ``Db2ChangeRecordEmitter.java:
20-24``; pair consumption ``Db2StreamingChangeEventSource.java:250-264``.)

This module reproduces that classification and then *collapses* each 3/4
pair into change events:

* same PK on both halves    -> one ``'u'`` event with before+after images;
* different PK (a PK update) -> a ``'d'`` event for the old key plus a
  ``'c'`` event for the new key — the reference's delete + tombstone +
  insert sequence (``Db2ConnectorIT.java:161-258``) expressed as two rows.

Single-row ops map 'D'->'d', 'I'->'c', 'U'->'u', 'R'->'r'
(``Db2ChangeRecordEmitter.java:39-78``).

Scale note: the window partitions by ``(table, commit_lsn)`` — transaction
granularity.  Transactions are small (bounded by the source DB), so this
window shuffles into millions of tiny groups with no skew; it never needs a
global sort (the reference's serial k-way merge, ``Db2StreamingChange
EventSource.java:183-201``, is replaced by this shuffle and per-key order).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from debezium_connector_db2_spark.schemas import PK_COLS, VALUE_COLS

_PAYLOAD = PK_COLS + VALUE_COLS

#: Opcode constants, same values as Db2ChangeRecordEmitter.java:20-24.
OP_READ = 0
OP_DELETE = 1
OP_INSERT = 2
OP_UPDATE_BEFORE = 3
OP_UPDATE_AFTER = 4
OP_UPDATE_SINGLE = 5  # z/OS single-row update (ZOsPlatform.java:34-40)


def classify_opcodes(binlog: DataFrame, payload_cols: Sequence[str] = tuple(_PAYLOAD)) -> DataFrame:
    """Add ``opcode`` and a lagged ``before_img`` struct to raw binlog rows."""
    w = Window.partitionBy("table", "commit_lsn").orderBy("intent_seq")
    lead_op = F.lead("op", 1, "X").over(w)        # W1
    lag_op = F.lag("op", 1, "X").over(w)          # W2
    payload = F.struct(*[F.col(c) for c in payload_cols])
    return binlog.withColumn(
        "opcode",
        F.when((F.col("op") == "D") & (lead_op == "I"), F.lit(OP_UPDATE_BEFORE))
        .when((F.col("op") == "I") & (lag_op == "D"), F.lit(OP_UPDATE_AFTER))
        .when(F.col("op") == "D", F.lit(OP_DELETE))
        .when(F.col("op") == "I", F.lit(OP_INSERT))
        .when(F.col("op") == "U", F.lit(OP_UPDATE_SINGLE))
        .otherwise(F.lit(OP_READ)),               # 'R' snapshot read
    ).withColumn("before_img", F.lag(payload, 1).over(w))


def to_change_events(
    binlog: DataFrame,
    pk_cols: Sequence[str] = tuple(PK_COLS),
    payload_cols: Sequence[str] = tuple(_PAYLOAD),
) -> DataFrame:
    """Raw capture rows -> change-event rows (op ∈ c/u/d/r, before/after).

    Output: commit_lsn, intent_seq, op, table, schema_version,
    before (struct), after (struct).  PK updates split into d+c.  The
    output ``intent_seq`` is rescaled (×2) so the two halves of a split
    keep their relative order; ordering across events is preserved.
    """
    classified = classify_opcodes(binlog, payload_cols)

    payload_type = T.StructType(
        [T.StructField(c, binlog.schema[c].dataType, True) for c in payload_cols]
    )
    payload = F.struct(*[F.col(c) for c in payload_cols])
    null_payload = F.lit(None).cast(payload_type)

    def event(op: str, before, after):
        return F.struct(F.lit(op).alias("op"), before.alias("before"), after.alias("after"))

    same_key = F.lit(True)
    for k in pk_cols:
        same_key = same_key & (F.col("before_img")[k] == F.col(k))

    empty = F.array().cast(T.ArrayType(T.StructType([
        T.StructField("op", T.StringType(), False),
        T.StructField("before", payload_type, True),
        T.StructField("after", payload_type, True),
    ])))

    ev = classified.withColumn(
        "events",
        F.when(F.col("opcode") == OP_UPDATE_BEFORE, empty)  # consumed by its AFTER row
        .when((F.col("opcode") == OP_UPDATE_AFTER) & same_key,
              F.array(event("u", F.col("before_img"), payload)))
        .when(F.col("opcode") == OP_UPDATE_AFTER,  # PK change: delete old + insert new
              F.array(event("d", F.col("before_img"), null_payload),
                      event("c", null_payload, payload)))
        .when(F.col("opcode") == OP_DELETE,
              F.array(event("d", payload, null_payload)))
        .when(F.col("opcode") == OP_INSERT,
              F.array(event("c", null_payload, payload)))
        .when(F.col("opcode") == OP_UPDATE_SINGLE,
              F.array(event("u", null_payload, payload)))
        .otherwise(F.array(event("r", null_payload, payload))),
    )
    return (
        ev.select(
            "commit_lsn", "intent_seq", "table", "schema_version",
            F.posexplode("events").alias("pos", "e"),
        )
        .select(
            "commit_lsn",
            (F.col("intent_seq") * 2 + F.col("pos")).alias("intent_seq"),
            F.col("e.op").alias("op"),
            "table", "schema_version",
            F.col("e.before").alias("before"),
            F.col("e.after").alias("after"),
        )
    )

