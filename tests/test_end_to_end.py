"""M1: the full slice — snapshot + binlog replay == closed-form oracle.

Mirrors the reference's record-level IT assertions
(``Db2ConnectorIT.java:104-258``): inserts, single-row updates, D+I
pair-encoded updates, PK updates (delete+insert), deletes/tombstones, and
same-key races within and across batches — final table state must equal
last-writer-wins over the total LSN order.
"""

import os

from pyspark.sql import functions as F

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import PK_COLS, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.sources.generator import (
    generate_binlog,
    generate_snapshot,
    oracle_final_state,
)
from debezium_connector_db2_spark.streaming.engine import CdcEngine

from tests.conftest import assert_df_equal


def build_workload(spark, tmp, n_ops=4000, n_convs=200, **kw):
    snap = generate_snapshot(spark, n_convs=n_convs, turns_per_conv=10, seed=7)
    binlog = generate_binlog(
        spark, n_ops=n_ops, n_convs=n_convs, turns_per_conv=10, seed=7,
        avg_tx_size=6, **kw,
    )
    src = BinlogSource(spark, os.path.join(tmp, "binlog"), bucket_size=64)
    src.write(binlog)
    return snap, binlog, src


def test_replay_matches_oracle(spark, tmpdir_path):
    """Raw capture rows applied directly (D deletes, everything else
    upserts; D+I update pairs as two independent rows) must produce the
    oracle's final table."""
    snap, binlog, src = build_workload(spark, tmpdir_path)
    target = LakeTable.create(
        spark, os.path.join(tmpdir_path, "target"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=16,
    )
    eng = CdcEngine(spark, src, target, os.path.join(tmpdir_path, "ckpt"))

    # snapshot phase: here the initial table is the source as-of LSN 0,
    # so stream from the beginning (binlog holds all post-snapshot changes).
    target.overwrite(snap, batch_id="snapshot")
    eng.checkpoint.write(eng.checkpoint.read())  # offset 0 start

    batches = eng.run_available()
    assert batches, "expected at least one micro-batch"

    got = target.read()
    want = oracle_final_state(snap, binlog)
    assert_df_equal(got, want, PK_COLS)


def test_multi_batch_replay_matches_single_batch(spark, tmpdir_path):
    """Same-key events across micro-batch boundaries must still resolve to
    the latest (T2/T4 boundary semantics)."""
    snap, binlog, src = build_workload(spark, tmpdir_path, n_ops=2000, n_convs=50)
    target = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t2"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=8,
    )
    target.overwrite(snap, batch_id="snapshot")
    eng = CdcEngine(spark, src, target, os.path.join(tmpdir_path, "ckpt2"),
                    max_lsns_per_batch=37)  # force many small batches
    batches = eng.run_available()
    assert len(batches) > 3
    got = target.read()
    want = oracle_final_state(snap, binlog)
    assert_df_equal(got, want, PK_COLS)


def test_extreme_hot_key_skew(spark, tmpdir_path):
    """north_rule skew handling: a heavily Zipf-skewed conversation
    distribution (s=3.5 concentrates most events on a handful of convs)
    must replay correctly through the map-side-combining dedup."""
    snap, binlog, src = build_workload(spark, tmpdir_path, n_ops=3000,
                                       n_convs=500, zipf_s=3.5)
    from pyspark.sql import functions as F2
    top = (binlog.groupBy("conv_id").count().orderBy(F2.desc("count")).first())
    assert top["count"] > 300, "workload should actually be skewed"

    target = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tskew"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=8,
    )
    target.overwrite(snap, batch_id="snapshot")
    eng = CdcEngine(spark, src, target, os.path.join(tmpdir_path, "ckskew"))
    eng.run_available()
    assert_df_equal(target.read(), oracle_final_state(snap, binlog), PK_COLS)


def test_deletes_are_tombstoned(spark, tmpdir_path):
    """Keys whose last event is a delete are absent from the final table
    (``Db2ConnectorIT.java:104-158``)."""
    snap, binlog, src = build_workload(spark, tmpdir_path, n_ops=3000,
                                       n_convs=60, p_delete=0.3)
    target = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t3"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=8,
    )
    target.overwrite(snap, batch_id="snapshot")
    eng = CdcEngine(spark, src, target, os.path.join(tmpdir_path, "ckpt3"))
    eng.run_available()

    # every key whose final op is 'D' must be gone
    final_ops = (
        binlog.groupBy("conv_id", "turn_idx")
        .agg(F.max_by("op", F.struct("commit_lsn", "intent_seq")).alias("last_op"))
    )
    deleted = final_ops.where(F.col("last_op") == "D").select("conv_id", "turn_idx")
    present = target.read().select("conv_id", "turn_idx")
    assert deleted.join(present, PK_COLS, "inner").count() == 0
    assert present.count() > 0


def test_snapshot_then_stream_handoff(spark, tmpdir_path):
    """§3.2: snapshot pinned at snapshot_lsn; streaming resumes after it
    without replaying pre-snapshot changes."""
    snap = generate_snapshot(spark, n_convs=40, turns_per_conv=8, seed=3)
    pre = generate_binlog(spark, n_ops=500, n_convs=40, turns_per_conv=8,
                          seed=3, lsn_offset=0)
    post = generate_binlog(spark, n_ops=500, n_convs=40, turns_per_conv=8,
                           seed=4, lsn_offset=10_000)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "binlog"), bucket_size=64)
    src.write(pre)

    # the "current source state" at snapshot time = snap ∪ pre replayed
    source_now = oracle_final_state(snap, pre)

    target = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t4"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=8,
    )
    eng = CdcEngine(spark, src, target, os.path.join(tmpdir_path, "ckpt4"))
    off = eng.snapshot_load(source_now)
    assert off.snapshot_completed
    # pre-snapshot changes must NOT be re-read
    assert eng.run_available() == []

    src.write(post)
    eng.run_available()

    want = oracle_final_state(source_now, post)
    assert_df_equal(target.read(), want, PK_COLS)
