"""T4 exactly-once across restart — mirrors the reference's
``restartInTheMiddleOfTx*`` tests (``Db2ConnectorIT.java:549-714``): kill
the engine between the sink commit and the checkpoint write, resume, and
assert no duplicates and no loss in the final table.
"""

import builtins
import errno
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

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
from debezium_connector_db2_spark.streaming.checkpoint import create_or_adopt
from debezium_connector_db2_spark.streaming.engine import CdcEngine

from tests.conftest import SimulatedCrash, assert_df_equal, crash_at


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
        eng.run_available(on_batch=crash_at(2))

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
        eng.run_available(on_batch=crash_at(crash_epoch))
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


def _pipeline(spark, d, snap, binlog):
    """A snapshotted 4-bucket table over a binlog holding ``binlog``;
    returns (source, target, checkpoint dir)."""
    src = BinlogSource(spark, os.path.join(d, "bl"), bucket_size=1 << 16)
    src.write(binlog)
    t = LakeTable.create(spark, os.path.join(d, "t"), TRANSCRIPT_SCHEMA,
                         bucket_by="conv_id", n_buckets=4)
    t.overwrite(snap, batch_id="snapshot")
    return src, t, os.path.join(d, "ck")


def _workload(spark):
    """200 ops over 20 conversations (commit LSNs 1..25)."""
    return (generate_snapshot(spark, n_convs=20, turns_per_conv=4, seed=3),
            generate_binlog(spark, n_ops=200, n_convs=20, turns_per_conv=4,
                            seed=3))


def test_wider_replay_after_crash_counts_once(spark, tmpdir_path):
    """A crash after batch 1's MERGE, then the log grows: the replay is
    wider than the crashed batch, so its batch id is new and the MERGE
    applies again.  The crashed batch's counters never reached the
    checkpoint, so the keys count once — the replay's own."""
    snap, binlog = _workload(spark)
    mid = 12
    src, t, ckpt = _pipeline(spark, tmpdir_path, snap,
                             binlog.where(F.col("commit_lsn") <= mid))
    with pytest.raises(SimulatedCrash):
        CdcEngine(spark, src, t, ckpt).run_available(on_batch=crash_at(1))
    src.write(binlog.where(F.col("commit_lsn") > mid))

    eng = CdcEngine(spark, src, t, ckpt)
    batches = eng.run_available()
    assert [m.applied for m in batches] == [True]
    m = eng.metrics()
    assert m["events_applied"] == sum(b.keys for b in batches)
    assert m["max_applied_lsn"] == src.max_lsn()
    assert_df_equal(t.read(), oracle_final_state(snap, binlog), PK_COLS)


def test_identical_replay_after_crash_counts_once(spark, tmpdir_path):
    """A replay identical to the crashed batch is skipped by its batch id
    and recomputes the counters the crash lost: ``metrics()`` reads the
    same as on a crash-free run over the same log."""
    snap, binlog = _workload(spark)
    src, t, ckpt = _pipeline(spark, os.path.join(tmpdir_path, "crash"),
                             snap, binlog)
    with pytest.raises(SimulatedCrash):
        CdcEngine(spark, src, t, ckpt,
                  max_lsns_per_batch=5).run_available(on_batch=crash_at(2))
    eng = CdcEngine(spark, src, t, ckpt, max_lsns_per_batch=5)
    assert not eng.run_available()[0].applied   # the replayed batch 2

    src2, t2, ckpt2 = _pipeline(spark, os.path.join(tmpdir_path, "clean"),
                                snap, binlog)
    clean = CdcEngine(spark, src2, t2, ckpt2, max_lsns_per_batch=5)
    clean.run_available()
    assert clean.metrics()["events_applied"] > 0
    assert eng.metrics() == clean.metrics()



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


def test_torn_manifest_write_leaves_previous_version(spark, tmpdir_path,
                                                     monkeypatch):
    """A manifest write that fails partway (disk full, crash) leaves no
    partial ``v{N+1}.json`` and the table still reads version N: the
    manifest is staged under a temp name and only published whole."""
    snap = generate_snapshot(spark, n_convs=20, turns_per_conv=4, seed=13)
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=4)
    t.overwrite(snap, batch_id="snapshot")
    v = t.current_version()
    mdir = os.path.join(t.path, "_manifests")
    real_open = builtins.open

    class Torn:
        """Write handle that keeps half of the first write, then fails."""

        def __init__(self, f):
            self.f = f

        def write(self, text):
            self.f.write(text[:len(text) // 2])
            raise OSError(errno.ENOSPC, "No space left on device")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def __getattr__(self, name):
            return getattr(self.f, name)

    def torn_open(path, mode="r", *args, **kwargs):
        f = real_open(path, mode, *args, **kwargs)
        in_mdir = os.path.dirname(os.path.abspath(path)) == mdir
        return Torn(f) if "w" in mode and in_mdir else f

    with monkeypatch.context() as mp:
        mp.setattr(builtins, "open", torn_open)
        with pytest.raises(OSError):
            t.overwrite(snap.limit(5), batch_id="torn")

    assert sorted(os.listdir(mdir)) == sorted(f"v{i}.json" for i in range(v + 1))
    fresh = LakeTable.load(spark, t.path)
    assert fresh.current_version() == v
    assert not fresh.has_batch("torn")
    assert_df_equal(fresh.read(), snap, PK_COLS)
    # the retried commit lands as the next version
    fresh.overwrite(snap.limit(5), batch_id="torn")
    assert fresh.current_version() == v + 1 and fresh.read().count() == 5


def test_manifest_is_durable_before_version_pointer_flips(tmpdir_path,
                                                          monkeypatch):
    """Commit order: the manifest bytes are fsync'd and published under
    ``v{N+1}.json``, then the fsync'd ``_VERSION`` pointer replaces the
    old one — the pointer never names bytes that are not on disk."""
    t = LakeTable.create(None, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id")
    synced, published = set(), []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        real_fsync(fd)
        synced.add(os.fstat(fd).st_ino)

    def replace(src, dst):
        published.append((os.path.basename(dst), os.stat(src).st_ino in synced))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    t.add_column("score", "double")
    assert published == [("v1.json", True), ("_VERSION", True)]
