"""T4 exactly-once across restart — mirrors the reference's
``restartInTheMiddleOfTx*`` tests (``Db2ConnectorIT.java:549-714``): kill
the engine between the sink commit and the checkpoint write, resume, and
assert no duplicates and no loss in the final table.
"""

import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import PK_COLS, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.sources.generator import (
    generate_binlog,
    generate_snapshot,
    oracle_final_state,
)
from debezium_connector_db2_spark.streaming.checkpoint import create_or_adopt
from debezium_connector_db2_spark.streaming.engine import CdcEngine, SimulatedCrash

from tests.conftest import assert_df_equal


def test_crash_between_merge_and_checkpoint(spark, tmpdir_path):
    snap = generate_snapshot(spark, n_convs=80, turns_per_conv=8, seed=11)
    binlog = generate_binlog(spark, n_ops=1200, n_convs=80, turns_per_conv=8,
                             seed=11, avg_tx_size=5)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "binlog"), bucket_size=32)
    src.write(binlog)

    target = LakeTable.create(
        spark, os.path.join(tmpdir_path, "target"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=8,
    )
    target.overwrite(snap, batch_id="snapshot")

    ckpt = os.path.join(tmpdir_path, "ckpt")
    eng = CdcEngine(spark, src, target, ckpt, max_lsns_per_batch=60)
    with pytest.raises(SimulatedCrash):
        eng.run_available(crash_after_merge_epoch=2)

    # the crashed epoch's merge landed in the lake, but the checkpoint
    # still points at epoch 1 — the classic torn state
    off = eng.checkpoint.read()
    assert off.epoch == 1

    # "restart": a fresh engine over the same dirs resumes and converges
    eng2 = CdcEngine(spark, src, target, ckpt, max_lsns_per_batch=60)
    eng2.run_available()

    want = oracle_final_state(snap, binlog)
    assert_df_equal(target.read(), want, PK_COLS)

    # the re-applied boundary batch must be recognised by its batch id:
    # no lake version may carry the same batch id twice
    ids = []
    for v in range(target.current_version() + 1):
        ids.extend(target.manifest(v)["committed_batch_ids"][len(ids):])
    assert len(ids) == len(set(ids)), f"duplicate batch ids: {ids}"


@pytest.mark.parametrize("crash_epoch", [1, 3])
def test_crash_sweep_every_epoch_converges(spark, tmpdir_path, crash_epoch):
    """Exactly-once must hold no matter WHICH micro-batch the crash lands
    after (first batch, mid-stream) — sweep the crash point."""
    snap = generate_snapshot(spark, n_convs=40, turns_per_conv=6, seed=17)
    binlog = generate_binlog(spark, n_ops=600, n_convs=40, turns_per_conv=6,
                             seed=17, avg_tx_size=5)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "binlog"), bucket_size=32)
    src.write(binlog)
    target = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=4,
    )
    target.overwrite(snap, batch_id="snapshot")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    eng = CdcEngine(spark, src, target, ckpt, max_lsns_per_batch=30)
    with pytest.raises(SimulatedCrash):
        eng.run_available(crash_after_merge_epoch=crash_epoch)
    CdcEngine(spark, src, target, ckpt, max_lsns_per_batch=30).run_available()
    assert_df_equal(target.read(), oracle_final_state(snap, binlog), PK_COLS)


def test_rerun_after_completion_is_noop(spark, tmpdir_path):
    snap = generate_snapshot(spark, n_convs=30, turns_per_conv=5, seed=13)
    binlog = generate_binlog(spark, n_ops=300, n_convs=30, turns_per_conv=5, seed=13)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "binlog"), bucket_size=32)
    src.write(binlog)
    target = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=4,
    )
    target.overwrite(snap, batch_id="snapshot")
    eng = CdcEngine(spark, src, target, os.path.join(tmpdir_path, "ckpt"))
    eng.run_available()
    v = target.current_version()
    assert eng.run_available() == []          # idle: no new LSNs (T9)
    assert target.current_version() == v      # no spurious commits
    # A5: monitoring summary reflects the completed run
    m = eng.metrics()
    assert m["events_applied"] > 0
    assert m["max_applied_lsn"] <= m["checkpoint_lsn"]
    assert m["snapshot_completed"] is False and m["paused"] is False
    assert m["last_epoch"] == m["epoch"]



def test_create_or_adopt_racing_writers_agree(tmpdir_path):
    """Write-once ids (the stream sink's run id, the streaming deduper's
    base seq): N racing first starters with distinct values must all
    return the one value the file holds — no overwrite, no torn read."""
    n = 16

    def make(i):
        time.sleep(0.005)  # widen the window between check and publish
        return f"value-{i}"

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for attempt in range(5):
            d = os.path.join(tmpdir_path, f"ck{attempt}")
            path = os.path.join(d, "id")
            barrier = threading.Barrier(n)

            def start(i):
                barrier.wait(timeout=30)
                return create_or_adopt(path, lambda: make(i))

            with ThreadPoolExecutor(n) as ex:
                got = list(ex.map(start, range(n), timeout=60))
            assert len(set(got)) == 1
            with open(path) as f:
                assert f.read() == got[0]
            assert os.listdir(d) == ["id"]   # no temp files left behind
    finally:
        sys.setswitchinterval(interval)
