"""Table maintenance: rebucket (bucket-count evolution) and the engine's
maintain() housekeeping (compact + vacuum + snapshot expiry)."""

import datetime
import os

from pyspark.sql import functions as F

from debezium_connector_db2_spark.lake import LakeTable, bucket_expr
from debezium_connector_db2_spark.schemas import BINLOG_SCHEMA, PK_COLS, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.sources.generator import (
    generate_binlog,
    generate_snapshot,
    oracle_final_state,
)
from debezium_connector_db2_spark.streaming.engine import CdcEngine

from tests.conftest import assert_df_equal, jobs_in_group

TS = datetime.datetime(2026, 1, 1)


def test_rebucket_preserves_content_and_prunes_correctly(spark, tmpdir_path):
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    rows = [(f"c{i}", 0, "user", f"t{i}", None, TS) for i in range(40)]
    t.overwrite(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA))
    before = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    t.rebucket(8)
    m = t.manifest()
    assert m["n_buckets"] == 8 and len(m["files"]) > 2
    after = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert after == before
    # bucket pruning still returns exactly the keys hashed to that bucket
    b0 = t.read(buckets=[0]).collect()
    want0 = {r.conv_id for r in spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
             .withColumn("b", bucket_expr("conv_id", 8))
             .where("b = 0").collect()}
    assert {r.conv_id for r in b0} == want0
    # MERGE keeps working against the new layout
    t.merge_changes(
        spark.createDataFrame(
            [("c1", 0, "c", 5, 0, "user", "t1-v2", None, TS)],
            "conv_id string, turn_idx int, op string, commit_lsn long,"
            "intent_seq long, role string, text string, tool string,"
            "ts timestamp"),
        PK_COLS)
    assert {r.text for r in t.read().where("conv_id = 'c1'").collect()} \
        == {"t1-v2"}


def test_engine_maintain_housekeeping(spark, tmpdir_path):
    snap = generate_snapshot(spark, n_convs=30, turns_per_conv=5, seed=23)
    binlog = generate_binlog(spark, n_ops=400, n_convs=30, turns_per_conv=5,
                             seed=23)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=16)
    src.write(binlog)
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                         n_buckets=4, versioned=True)
    t.overwrite(snap, batch_id="snapshot")
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=20)
    eng.run_available()
    stale = F.col("__deleted") & (
        F.col("__commit_lsn") < eng.checkpoint.read().commit_lsn)
    had_stale = t.read(raw=True).where(stale).count() > 0
    stats = eng.maintain(expire_keep_last=2)
    assert stats["removed_manifests"] >= 1
    # tombstones below the checkpoint are physically gone, and the
    # vacuum rewrote buckets only if it had some to drop
    assert t.read(raw=True).where(stale).count() == 0
    assert (stats["vacuumed_buckets"] > 0) == had_stale
    assert_df_equal(t.read(), oracle_final_state(snap, binlog), PK_COLS)

def test_metrics_on_fresh_engine_returns_zeros(spark, tmpdir_path):
    """A fresh engine (no batch or heartbeat yet) must report zeros, not
    crash on the missing checkpoint."""
    import os

    from debezium_connector_db2_spark.lake import LakeTable
    from debezium_connector_db2_spark.schemas import TRANSCRIPT_SCHEMA
    from debezium_connector_db2_spark.sources.binlog import BinlogSource
    from debezium_connector_db2_spark.streaming.engine import CdcEngine

    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    m = eng.metrics()
    assert m["events_applied"] == 0
    assert m["max_applied_lsn"] is None and m["last_epoch"] is None
    assert m["paused"] is False


def test_metrics_is_a_checkpoint_read(spark, tmpdir_path):
    """``metrics()`` reads the counters off the checkpoint: after several
    batches it submits no Spark job, and a blocking snapshot (``mode=
    "always"``), which resets the epoch, keeps the totals."""
    snap = generate_snapshot(spark, n_convs=20, turns_per_conv=4, seed=3)
    binlog = generate_binlog(spark, n_ops=200, n_convs=20, turns_per_conv=4,
                             seed=3)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(binlog)
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=4)
    t.overwrite(snap, batch_id="snapshot")
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=5)
    assert len(eng.run_available()) >= 3

    sc = spark.sparkContext
    sc.setJobGroup("metrics-read", "metrics")
    try:
        m = eng.metrics()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs_in_group(sc, "metrics-read") == set()
    assert m["events_applied"] > 0 and m["last_epoch"] == m["epoch"]
    assert m["max_applied_lsn"] == src.max_lsn()
    assert isinstance(m["watermark"], datetime.datetime)

    eng.snapshot_load(snap, mode="always")
    after = eng.metrics()
    assert after["epoch"] == 0 and after["snapshot_completed"]
    totals = ("events_applied", "max_applied_lsn", "watermark", "last_epoch")
    assert [after[k] for k in totals] == [m[k] for k in totals]
