"""The engine's batch kernel: job economy of ``CdcEngine.apply_batch``.

Every Spark job a batch submits must start inside ``merge_changes``; the
normalization, dedup and the batch's counters in the checkpoint add none
of their own.
"""

import os

import pytest

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import PK_COLS, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.sources.generator import (
    generate_binlog,
    generate_snapshot,
    oracle_final_state,
)
from debezium_connector_db2_spark.streaming.engine import CdcEngine

from tests.conftest import assert_df_equal, jobs_in_group


def _snapshotted_engine(spark, tmpdir_path, merge_mode, versioned):
    """A snapshotted table and an engine with one batch of changes
    pending; returns (snapshot, binlog, engine)."""
    snap = generate_snapshot(spark, n_convs=20, turns_per_conv=4, seed=3)
    binlog = generate_binlog(spark, n_ops=200, n_convs=20, turns_per_conv=4,
                             seed=3)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"),
                       bucket_size=1 << 16)
    src.write(binlog)
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=4,
                         versioned=versioned, merge_mode=merge_mode,
                         key_cols=PK_COLS if merge_mode == "mor" else None)
    t.overwrite(snap, batch_id="snapshot")
    return snap, binlog, CdcEngine(spark, src, t,
                                   os.path.join(tmpdir_path, "ck"))


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_apply_batch_jobs_all_start_inside_merge(spark, tmpdir_path,
                                                 monkeypatch, merge_mode):
    snap, binlog, eng = _snapshotted_engine(spark, tmpdir_path, merge_mode,
                                            versioned=merge_mode == "mor")
    t = eng.target
    off, hi = eng.checkpoint.read(), eng.binlog.max_lsn()

    sc = spark.sparkContext
    outside, inside = f"apply-{merge_mode}", f"merge-{merge_mode}"
    merge = LakeTable.merge_changes

    def tagged_merge(self, *args, **kwargs):
        sc.setJobGroup(inside, "merge_changes")
        try:
            return merge(self, *args, **kwargs)
        finally:
            sc.setJobGroup(outside, "apply_batch")

    monkeypatch.setattr(LakeTable, "merge_changes", tagged_merge)
    sc.setJobGroup(outside, "apply_batch")
    try:
        m = eng.apply_batch(off, hi)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    assert m.applied and m.events > 0 and 0 < m.keys <= m.events
    assert jobs_in_group(sc, inside)
    assert jobs_in_group(sc, outside) == set()
    assert_df_equal(t.read(), oracle_final_state(snap, binlog), PK_COLS)
    # the checkpoint's counters carry the same stats as BatchMetrics
    got = eng.metrics()
    assert got["events_applied"] == m.keys
    assert got["max_applied_lsn"] == hi
    assert got["last_epoch"] == 1


@pytest.mark.parametrize("merge_mode,versioned", [
    ("cow", False), ("cow", True), ("mor", True)],
    ids=["cow", "cow_versioned", "mor"])
def test_merge_reads_the_manifest_once(spark, tmpdir_path, monkeypatch,
                                       merge_mode, versioned):
    """A MERGE works from the one manifest it reads up front: the
    touched-bucket read and the commit reuse it."""
    snap, binlog, eng = _snapshotted_engine(spark, tmpdir_path, merge_mode,
                                            versioned)

    reads, inside = [], [False]
    manifest, merge = LakeTable.manifest, LakeTable.merge_changes

    def counted_manifest(self, *args, **kwargs):
        if inside[0]:
            reads.append(args)
        return manifest(self, *args, **kwargs)

    def flagged_merge(self, *args, **kwargs):
        inside[0] = True
        try:
            return merge(self, *args, **kwargs)
        finally:
            inside[0] = False

    monkeypatch.setattr(LakeTable, "manifest", counted_manifest)
    monkeypatch.setattr(LakeTable, "merge_changes", flagged_merge)
    m = eng.apply_batch(eng.checkpoint.read(), eng.binlog.max_lsn())

    assert m.applied and m.events > 0
    assert len(reads) == 1
    assert_df_equal(eng.target.read(), oracle_final_state(snap, binlog),
                    PK_COLS)


@pytest.mark.parametrize("merge_mode,versioned", [
    ("cow", False), ("cow", True), ("mor", True)],
    ids=["cow", "cow_versioned", "mor"])
def test_merge_evaluates_the_change_plan_once(spark, tmpdir_path,
                                              merge_mode, versioned):
    """``merge_changes`` owns the caching of its change set: an uncached
    100-row change plan is evaluated once per row, in every mode — a
    counting UDF on the key column sees each row once."""
    from pyspark.sql import functions as F

    _snap, _binlog, eng = _snapshotted_engine(spark, tmpdir_path,
                                              merge_mode, versioned)
    evals = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(conv_id):
        evals.add(1)
        return conv_id

    changes = spark.createDataFrame(
        [("d" if i % 10 == 0 else "c", 10_000 + i, 0, f"conv-{i % 30}",
          i // 30, "user", f"v{i}", None, None) for i in range(100)],
        "op: string, commit_lsn: long, intent_seq: long, conv_id: string, "
        "turn_idx: int, role: string, text: string, tool: string, "
        "ts: timestamp",
    ).withColumn("conv_id", counted("conv_id"))

    assert eng.target.merge_changes(changes, PK_COLS, batch_id="counted")
    assert evals.value == 100
