"""The engine's batch kernel: job economy of ``CdcEngine.apply_batch``.

Every Spark job a batch submits must start inside ``merge_changes``; the
normalization, dedup and the batch's lineage row add none of their own.
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

from tests.conftest import assert_df_equal


def _jobs_in_group(sc, group):
    # job starts reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_apply_batch_jobs_all_start_inside_merge(spark, tmpdir_path,
                                                 monkeypatch, merge_mode):
    snap = generate_snapshot(spark, n_convs=20, turns_per_conv=4, seed=3)
    binlog = generate_binlog(spark, n_ops=200, n_convs=20, turns_per_conv=4,
                             seed=3)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"),
                       bucket_size=1 << 16)
    src.write(binlog)
    mor = merge_mode == "mor"
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=4,
                         versioned=mor, merge_mode=merge_mode,
                         key_cols=PK_COLS if mor else None)
    t.overwrite(snap, batch_id="snapshot")
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    off, hi = eng.checkpoint.read(), src.max_lsn()

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
    assert _jobs_in_group(sc, inside)
    assert _jobs_in_group(sc, outside) == set()
    assert_df_equal(t.read(), oracle_final_state(snap, binlog), PK_COLS)
    # the batch's lineage row carries the same stats as BatchMetrics
    lin = eng.lineage().collect()
    assert [(r.epoch, r.event_count) for r in lin] == [(1, m.keys)]
    assert lin[0].max_applied_lsn == hi
    assert eng.metrics()["events_applied"] == m.keys
