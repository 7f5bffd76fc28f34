"""Long-running-lifecycle soak: many append→drain cycles with interleaved
maintenance (compact/vacuum/expire), an incremental-snapshot signal, and a
mid-life crash — the table must converge to the closed-form oracle after
every cycle and stay healthy (bounded manifests, no duplicate columns)."""

import os

import pytest
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
from debezium_connector_db2_spark.streaming.signals import SignalChannel

from tests.conftest import SimulatedCrash, assert_df_equal, crash_at


def test_soak_many_cycles(spark, tmpdir_path):
    n_convs, tpc = 50, 6
    snap = generate_snapshot(spark, n_convs=n_convs, turns_per_conv=tpc, seed=77)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=64)
    target = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                              TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                              n_buckets=4, versioned=True)
    signals = SignalChannel(os.path.join(tmpdir_path, "sig"))
    ck = os.path.join(tmpdir_path, "ck")

    logs = []

    def full_log():
        out = logs[0]
        for df in logs[1:]:
            out = out.unionByName(df)
        return out

    def provider():
        # live source = snapshot + all effects at the current position
        eng = CdcEngine(spark, src, target, ck)
        pos = eng.checkpoint.read().commit_lsn
        return oracle_final_state(
            snap, full_log().where(F.col("commit_lsn") <= pos))

    eng = CdcEngine(spark, src, target, ck, max_lsns_per_batch=40,
                    signals=signals, snapshot_source=provider)
    eng.snapshot_load(snap)

    for cycle in range(6):
        tail = generate_binlog(spark, n_ops=250, n_convs=n_convs,
                               turns_per_conv=tpc, seed=100 + cycle,
                               lsn_offset=cycle * 1000)
        logs.append(tail)
        src.write(tail)
        if cycle == 2:
            # crash mid-cycle, then resume with a fresh engine
            with pytest.raises(SimulatedCrash):
                eng.run_available(
                    on_batch=crash_at(eng.checkpoint.read().epoch + 1))
            eng = CdcEngine(spark, src, target, ck, max_lsns_per_batch=40,
                            signals=signals, snapshot_source=provider)
        if cycle == 3:
            signals.send("execute-snapshot",
                         {"type": "incremental", "n_chunks": 3})
        eng.run_available()
        if cycle % 2 == 1:
            eng.maintain(expire_keep_last=8)
        want = oracle_final_state(snap, full_log())
        assert_df_equal(target.read(), want, PK_COLS)

    m = target.manifest()
    assert len(m["committed_batch_ids"]) <= LakeTable.MAX_BATCH_IDS
    # expire kept the manifest dir bounded
    n_manifests = len(os.listdir(os.path.join(target.path, "_manifests")))
    assert n_manifests <= target.current_version() + 1
    # every data file referenced by the live manifest exists
    for ents in m["files"].values():
        for e in ents:
            assert os.path.exists(os.path.join(target.path, e["path"]))