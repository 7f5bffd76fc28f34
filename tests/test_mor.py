"""Merge-on-read lake mode: MERGE appends per-bucket delta files (one
write job, O(changes) amplification), readers resolve the per-key
(__commit_lsn, __intent_seq) winner, compact() folds deltas — Iceberg's
write.merge.mode=merge-on-read rendered on the manifest lake."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import BINLOG_SCHEMA, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.streaming.engine import CdcEngine

TS = datetime.datetime(2026, 1, 1)
PK = ["conv_id", "turn_idx"]


def _mor(spark, path, n_buckets=2):
    return LakeTable.create(spark, path, TRANSCRIPT_SCHEMA,
                            bucket_by="conv_id", n_buckets=n_buckets,
                            versioned=True, merge_mode="mor", key_cols=PK)


def _changes(spark, rows):
    # (op, lsn, seq, conv, turn, text)
    return spark.createDataFrame(
        [(op, lsn, seq, conv, turn, "user", text, None, TS)
         for op, lsn, seq, conv, turn, text in rows],
        "op: string, commit_lsn: long, intent_seq: long, conv_id: string, "
        "turn_idx: int, role: string, text: string, tool: string, "
        "ts: timestamp")


def test_mor_requires_versioned_and_keys(spark, tmpdir_path):
    with pytest.raises(ValueError, match="versioned"):
        LakeTable.create(spark, os.path.join(tmpdir_path, "a"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                         merge_mode="mor", key_cols=PK)
    with pytest.raises(ValueError, match="key_cols"):
        LakeTable.create(spark, os.path.join(tmpdir_path, "b"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                         versioned=True, merge_mode="mor")
    with pytest.raises(ValueError, match="merge_mode"):
        LakeTable.create(spark, os.path.join(tmpdir_path, "c"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                         merge_mode="sideways")


def test_mor_merge_appends_deltas_and_read_resolves(spark, tmpdir_path):
    t = _mor(spark, os.path.join(tmpdir_path, "t"))
    t.overwrite(spark.createDataFrame(
        [("a", 0, "user", "base-a0", None, TS),
         ("b", 0, "user", "base-b0", None, TS)], TRANSCRIPT_SCHEMA),
        batch_id="snap", position=(0, 0))
    base_paths = {fe["path"] for ents in t.manifest()["files"].values()
                  for fe in ents}

    # batch 1: update a0, insert a1; batch 2: delete b0, re-update a0
    t.merge_changes(_changes(spark, [
        ("c", 1, 0, "a", 0, "v1"), ("c", 1, 1, "a", 1, "new-a1")]),
        PK, batch_id="b1")
    t.merge_changes(_changes(spark, [
        ("d", 2, 0, "b", 0, "base-b0"), ("c", 2, 1, "a", 0, "v2")]),
        PK, batch_id="b2")

    m = t.manifest()
    paths = {fe["path"] for ents in m["files"].values() for fe in ents}
    # MoR: the base files were never rewritten — deltas appended
    assert base_paths <= paths
    assert len(paths) > len(base_paths)

    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got == {("a", 0): "v2", ("a", 1): "new-a1"}   # b0 deleted

    # raw read: resolved winners incl. the tombstone row
    raw = {(r.conv_id, r.turn_idx): (r.text, r["__deleted"])
           for r in t.read(raw=True).collect()}
    assert raw[("b", 0)][1] is True
    assert raw[("a", 0)] == ("v2", False)

    # replay idempotence: same batch id is a no-op
    v = t.current_version()
    assert t.merge_changes(_changes(spark, [("c", 1, 0, "a", 0, "v1")]),
                           PK, batch_id="b1") is False
    assert t.current_version() == v


def test_mor_out_of_order_batches_converge(spark, tmpdir_path):
    """Late-arriving older changes lose the read-time argmax — the
    versioned guarantee holds in MoR without any write-side read."""
    t = _mor(spark, os.path.join(tmpdir_path, "t"))
    t.merge_changes(_changes(spark, [("c", 5, 0, "a", 0, "newest")]),
                    PK, batch_id="late-first")
    t.merge_changes(_changes(spark, [("c", 3, 0, "a", 0, "older")]),
                    PK, batch_id="early-second")
    assert [r.text for r in t.read().collect()] == ["newest"]


def test_mor_compact_folds_deltas(spark, tmpdir_path):
    t = _mor(spark, os.path.join(tmpdir_path, "t"))
    for i in range(4):
        t.merge_changes(_changes(spark, [
            ("c", i + 1, 0, "a", 0, f"v{i + 1}"),
            ("c", i + 1, 1, f"c{i}", 0, f"row{i}")]),
            PK, batch_id=f"b{i}")
    m = t.manifest()
    assert any(len(ents) > 1 for ents in m["files"].values())
    before = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}

    n = t.compact()
    assert n >= 1
    m2 = t.manifest()
    assert all(len(ents) == 1 for ents in m2["files"].values())
    after = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert after == before == {("a", 0): "v4", ("c0", 0): "row0",
                               ("c1", 0): "row1", ("c2", 0): "row2",
                               ("c3", 0): "row3"}


def test_mor_engine_replay_matches_oracle(spark, tmpdir_path):
    """CdcEngine over a MoR target replays to the same final state as
    the closed-form oracle, including the exactly-once crash window."""
    from debezium_connector_db2_spark.sources.generator import (
        generate_binlog,
        generate_snapshot,
        oracle_final_state,
    )
    from tests.conftest import SimulatedCrash, crash_at

    snap = generate_snapshot(spark, n_convs=40, turns_per_conv=8, seed=9)
    log = generate_binlog(spark, n_ops=600, n_convs=40, turns_per_conv=8,
                          seed=9)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"),
                       bucket_size=16)
    src.write(log)
    t = _mor(spark, os.path.join(tmpdir_path, "t"), n_buckets=4)
    t.overwrite(snap, batch_id="snapshot", position=(0, 0))
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=30)
    with pytest.raises(SimulatedCrash):
        eng.run_available(on_batch=crash_at(2))
    eng2 = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                     max_lsns_per_batch=30)
    eng2.run_available()

    want = oracle_final_state(snap, log)
    got = t.read()
    c = sorted(got.columns)
    diff = (got.select(c).exceptAll(want.select(c)).count()
            + want.select(c).exceptAll(got.select(c)).count())
    assert diff == 0
    # compact folds everything and preserves the state
    t.compact()
    got2 = t.read()
    diff2 = (got2.select(c).exceptAll(want.select(c)).count()
             + want.select(c).exceptAll(got2.select(c)).count())
    assert diff2 == 0


def test_mor_rename_key_column_keeps_resolution(spark, tmpdir_path):
    """Renaming a resolution key column updates the manifest's key_cols;
    pre-rename delta files upgrade to the new name on read and still
    resolve correctly."""
    t = _mor(spark, os.path.join(tmpdir_path, "t"))
    t.merge_changes(_changes(spark, [("c", 1, 0, "a", 0, "v1")]),
                    PK, batch_id="b1")
    t.rename_column("turn_idx", "turn_no")
    assert t.manifest()["key_cols"] == ["conv_id", "turn_no"]
    # post-rename delta still merges and resolves against the old one
    post = spark.createDataFrame(
        [("c", 2, 0, "a", 0, "user", "v2", None, TS)],
        "op: string, commit_lsn: long, intent_seq: long, conv_id: string, "
        "turn_no: int, role: string, text: string, tool: string, "
        "ts: timestamp")
    t.merge_changes(post, ["conv_id", "turn_no"], batch_id="b2")
    got = [(r.conv_id, r.turn_no, r.text) for r in t.read().collect()]
    assert got == [("a", 0, "v2")]


def test_mor_vacuum_drops_old_tombstones(spark, tmpdir_path):
    t = _mor(spark, os.path.join(tmpdir_path, "t"))
    t.merge_changes(_changes(spark, [("c", 1, 0, "a", 0, "v1"),
                                     ("c", 1, 1, "b", 0, "keep")]),
                    PK, batch_id="b1")
    t.merge_changes(_changes(spark, [("d", 2, 0, "a", 0, "v1")]),
                    PK, batch_id="b2")
    raw = t.read(raw=True).collect()
    assert any(r["__deleted"] for r in raw)
    t.vacuum_tombstones(before_lsn=10)      # checkpoint passed lsn 2
    raw2 = t.read(raw=True).collect()
    assert not any(r["__deleted"] for r in raw2)
    assert [(r.conv_id, r.text) for r in t.read().collect()] == [
        ("b", "keep")]


def test_mor_merge_rejects_mismatched_key_cols(spark, tmpdir_path):
    """merge_changes on a merge-on-read table must be called with the
    manifest's key identity: the read-side latest_per_key collapses under
    manifest key_cols, so a delta written under different keys would
    silently produce per-key results the caller never asked for."""
    t = _mor(spark, os.path.join(tmpdir_path, "t"))
    ch = _changes(spark, [("c", 10, 0, "a", 0, "x")])
    with pytest.raises(ValueError, match="key_cols"):
        t.merge_changes(ch, key_cols=["conv_id"], batch_id="b1")
    # matching keys still work
    assert t.merge_changes(ch, key_cols=PK, batch_id="b1")
    assert t.read().count() == 1


def test_mor_auto_compaction_bounds_delta_files_across_soak(spark, tmpdir_path):
    """50-batch soak on a merge-on-read target with auto-compaction
    wired into run_available (auto_compact_files): every MERGE appends
    one delta file per touched bucket, so without maintenance the
    read-side resolve degrades linearly — the engine must keep the
    per-bucket file count bounded by the threshold across the whole run
    while converging to the closed-form oracle state."""
    from debezium_connector_db2_spark.sources.generator import (
        generate_binlog,
        generate_snapshot,
        oracle_final_state,
    )

    snap = generate_snapshot(spark, n_convs=40, turns_per_conv=6, seed=31)
    log = generate_binlog(spark, n_ops=1500, n_convs=40, turns_per_conv=6,
                          seed=31)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"),
                       bucket_size=8)
    src.write(log)
    n_lsns = src.max_lsn()
    t = _mor(spark, os.path.join(tmpdir_path, "t"), n_buckets=2)
    t.overwrite(snap, batch_id="snapshot", position=(0, 0))

    threshold = 4
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=max(n_lsns // 50, 1),
                    auto_compact_files=threshold)
    max_files_seen = []

    def watch(_m):
        m = t.manifest()
        max_files_seen.append(max(len(e) for e in m["files"].values()))

    batches = eng.run_available(on_batch=watch)
    assert len(batches) >= 40, "soak must actually run ~50 micro-batches"
    # on_batch fires pre-compaction, so the observable bound is
    # threshold + 1 (the batch's own delta, folded right after)
    assert max(max_files_seen) <= threshold + 1
    m = t.manifest()
    assert max(len(e) for e in m["files"].values()) <= threshold

    want = oracle_final_state(snap, log)
    got = t.read()
    c = sorted(got.columns)
    assert (got.select(c).exceptAll(want.select(c)).count()
            + want.select(c).exceptAll(got.select(c)).count()) == 0


def test_mor_changes_between_resolves_deltas(spark, tmpdir_path):
    """changes_between on a merge-on-read table reads *through* the
    delta resolution: the net change per key is the winning row, even
    when the window spans several unfolded delta files."""
    t = _mor(spark, os.path.join(tmpdir_path, "t"))
    t.merge_changes(_changes(spark, [("c", 1, 0, "a", 0, "a0"),
                                     ("c", 1, 1, "b", 0, "b0")]),
                    PK, batch_id="b1")
    v1 = t.current_version()
    t.merge_changes(_changes(spark, [("u", 2, 0, "a", 0, "a1")]),
                    PK, batch_id="b2")
    t.merge_changes(_changes(spark, [("u", 3, 0, "a", 0, "a2"),
                                     ("d", 3, 1, "b", 0, "b0")]),
                    PK, batch_id="b3")
    ch = sorted((r.conv_id, r.op, r.text)
                for r in t.changes_between(v1).collect())
    # one NET row per key: a's intermediate a1 is collapsed away
    assert ch == [("a", "u", "a2"), ("b", "d", "b0")]


def test_changes_between_requires_versioned(spark, tmpdir_path):
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "plain"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    with pytest.raises(ValueError, match="versioned"):
        t.changes_between(0)
