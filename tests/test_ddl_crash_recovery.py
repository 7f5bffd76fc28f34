"""Crash-safety of DDL application and rename recovery across restart.

Covers the two torn-state windows around schema evolution:

* crash between the DDL apply (+ post-switch merge) and the checkpoint
  write — on restart the pending SchemaChange is re-detected and replayed;
  DDL must be idempotent or the replay commits a duplicate column and
  every later read fails (the reference replays schema history on recovery
  without re-ALTERing, ``Db2DatabaseSchema.java:30-77``);
* restart after a completed rename — old-capture-instance rows still carry
  the old column name until their stop LSN; the rename map must be rebuilt
  from the durable manifest, not from in-process DDL application.
"""

import datetime
import os

import pytest
from pyspark.sql import types as T

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import BINLOG_FIELDS, BINLOG_SCHEMA, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.streaming.engine import (
    CdcEngine,
    SchemaChange,
    SimulatedCrash,
)

TS = datetime.datetime(2026, 1, 1)

EXT_SCHEMA = T.StructType(
    BINLOG_FIELDS + [T.StructField("sentiment", T.StringType(), True)]
)


def _row(lsn, seq, op, conv, turn, text, sentiment=None, sv=0, tool=None):
    return (lsn, seq, op, "transcripts", sv, conv, turn, "user", text, tool, TS,
            sentiment)


def test_ddl_replay_after_crash_is_idempotent(spark, tmpdir_path):
    """Crash lands after the post-switch merge but before the checkpoint:
    restart re-detects the schema change, re-applies the DDL (no-op), skips
    the identical batch by id, and converges."""
    rows = [
        _row(1, 0, "I", "c1", 0, "hello"),
        _row(2, 0, "I", "c1", 1, "old-row"),
        _row(10, 0, "I", "c2", 0, "new-row", "pos", 1),
        _row(11, 0, "U", "c1", 0, "hello-v2", "neg", 1),
    ]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"),
                       bucket_size=8, schema=EXT_SCHEMA)
    src.write(spark.createDataFrame(rows, EXT_SCHEMA))
    target = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                              TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=4)
    changes = [SchemaChange(10, "add_column",
                            {"name": "sentiment", "dtype": "string",
                             "default": "n/a"})]
    ckpt = os.path.join(tmpdir_path, "ck")
    eng = CdcEngine(spark, src, target, ckpt, schema_changes=list(changes))
    with pytest.raises(SimulatedCrash):
        # epoch 1 = pre-switch batch; epoch 2 = post-switch batch (after DDL)
        eng.run_available(crash_after_merge_epoch=2)

    # torn state: DDL + post-switch merge landed, checkpoint still at epoch 1
    assert eng.checkpoint.read().epoch == 1
    assert "sentiment" in [f.name for f in target.schema().fields]

    # restart: fresh engine, same (not yet filtered) schema-change config
    eng2 = CdcEngine(spark, src, target, ckpt, schema_changes=list(changes))
    eng2.run_available()

    fields = [f.name for f in target.schema().fields]
    assert fields.count("sentiment") == 1, f"duplicate column: {fields}"
    got = {(r.conv_id, r.turn_idx): r for r in target.read().collect()}
    assert got[("c1", 0)].text == "hello-v2"
    assert got[("c1", 0)].sentiment == "neg"
    assert got[("c1", 1)].sentiment == "n/a"
    assert got[("c2", 0)].sentiment == "pos"


def test_rename_map_rebuilt_after_restart(spark, tmpdir_path):
    """Old-capture-instance rows arriving *after* a restart whose
    checkpoint already passed the rename LSN must still be normalized."""
    rows = [
        _row(1, 0, "I", "a", 0, "t0", tool="bash"),
        _row(6, 0, "U", "a", 0, "t0-v2", tool="grep"),
    ]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame([r[:-1] for r in rows], BINLOG_SCHEMA))
    target = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                              TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=4)
    ckpt = os.path.join(tmpdir_path, "ck")
    eng = CdcEngine(spark, src, target, ckpt,
                    schema_changes=[SchemaChange(5, "rename_column",
                                                 {"old": "tool",
                                                  "new": "tool_name"})])
    eng.run_available()
    assert "tool_name" in [f.name for f in target.schema().fields]

    # more old-instance rows arrive (column still named `tool` in the file)
    src.write(spark.createDataFrame(
        [_row(8, 0, "U", "a", 0, "t0-v3", tool="sed")[:-1]], BINLOG_SCHEMA))

    # fresh process: no in-memory rename map — must rebuild from manifest
    eng2 = CdcEngine(spark, src, target, ckpt)
    assert eng2.binlog_renames == {"tool": "tool_name"}
    eng2.run_available()
    got = {(r.conv_id, r.turn_idx): r for r in target.read().collect()}
    assert got[("a", 0)].text == "t0-v3"
    assert got[("a", 0)].tool_name == "sed"



def test_rename_back_to_original_name_keeps_values(spark, tmpdir_path):
    """A rename chain back to its start (tool -> tool_name -> tool) leaves
    rows written under ``tool`` nothing to map: their values must survive
    instead of being coalesced away into a dropped column."""
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(
        [_row(1, 0, "I", "a", 0, "t0", tool="bash")[:-1]], BINLOG_SCHEMA))
    target = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                              TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    target.rename_column("tool", "tool_name")
    target.rename_column("tool_name", "tool")
    eng = CdcEngine(spark, src, target, os.path.join(tmpdir_path, "ck"))
    assert eng.binlog_renames == {"tool_name": "tool"}
    eng.run_available()
    assert [r.tool for r in target.read().collect()] == ["bash"]

def test_lake_ddl_idempotent_direct(spark, tmpdir_path):
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    t.add_column("score", "double", default=1.0)
    v = t.current_version()
    t.add_column("score", "double", default=1.0)   # replay: no-op
    assert t.current_version() == v
    t.rename_column("role", "speaker")
    v = t.current_version()
    t.rename_column("role", "speaker")             # replay: no-op
    assert t.current_version() == v
    with pytest.raises(ValueError):
        t.rename_column("never_existed", "x")
    with pytest.raises(ValueError):
        t.rename_column("text", "speaker")         # target collision


def test_expire_snapshots_gc(spark, tmpdir_path):
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    df = spark.createDataFrame([("c", 0, "user", "x", None, TS)],
                               TRANSCRIPT_SCHEMA)
    for i in range(5):
        t.overwrite(df.withColumn("text", __import__("pyspark.sql.functions",
                                                     fromlist=["lit"]).lit(f"v{i}")),
                    batch_id=f"o{i}")
    n_manifests_before = len(os.listdir(os.path.join(t.path, "_manifests")))
    stats = t.expire_snapshots(keep_last=2)
    assert stats["removed_manifests"] >= 3
    assert stats["removed_files"] >= 3     # overwrites orphan prior files
    # current data intact, history readable for the retained window
    assert t.read().collect()[0].text == "v4"
    assert len(t.history()) == 2
    assert len(os.listdir(os.path.join(t.path, "_manifests"))) \
        < n_manifests_before


def test_batch_id_window_bounded(spark, tmpdir_path, monkeypatch):
    monkeypatch.setattr(LakeTable, "MAX_BATCH_IDS", 4)
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    df = spark.createDataFrame([("c", 0, "user", "x", None, TS)],
                               TRANSCRIPT_SCHEMA)
    for i in range(6):
        t.append(df, batch_id=f"b{i}")
    ids = t.manifest()["committed_batch_ids"]
    assert len(ids) == 4 and ids == ["b2", "b3", "b4", "b5"]
    assert t.has_batch("b5") and not t.has_batch("b0")
