"""Versioned (order-insensitive) MERGE + Structured Streaming front-end."""

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import BINLOG_SCHEMA, PK_COLS, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.sources.generator import (
    generate_binlog,
    generate_snapshot,
    oracle_final_state,
)
from debezium_connector_db2_spark.streaming.engine import CdcEngine
from debezium_connector_db2_spark.streaming.stream import StreamingCdc

from tests.conftest import assert_df_equal

TS = datetime.datetime(2026, 1, 1)


def _row(lsn, seq, op, conv, turn, text):
    return (lsn, seq, op, "transcripts", 0, conv, turn, "user", text, None, TS)


def _changes(spark, rows):
    df = spark.createDataFrame(rows, BINLOG_SCHEMA)
    return df.select(
        "conv_id", "turn_idx",
        F.when(F.col("op") == "D", "d").otherwise("c").alias("op"),
        "commit_lsn", "intent_seq", "role", "text", "tool", "ts",
    )


def _versioned_table(spark, path, merge_mode, n_buckets):
    mor = merge_mode == "mor"
    return LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA, bucket_by="conv_id",
        n_buckets=n_buckets, versioned=True, merge_mode=merge_mode,
        key_cols=PK_COLS if mor else None,
    )


def _raw_rows(t):
    return {(r.conv_id, r.turn_idx, r.text, r["__commit_lsn"], r["__deleted"])
            for r in t.read(raw=True).collect()}


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_versioned_merge_out_of_order_batches(spark, tmpdir_path, merge_mode):
    """Applying batch B2 (newer) before B1 (older) must converge to the
    same state as in-order application — per-row version metadata wins.
    Copy-on-write resolves at MERGE time, merge-on-read at read time;
    both give the same rows, tombstones included."""
    t = _versioned_table(spark, os.path.join(tmpdir_path, "t"), merge_mode, 4)
    b1 = _changes(spark, [
        _row(1, 0, "I", "a", 0, "v1"),
        _row(2, 0, "I", "b", 0, "w1"),
        _row(3, 0, "D", "c", 0, "gone"),
    ])
    b2 = _changes(spark, [
        _row(10, 0, "U", "a", 0, "v2"),
        _row(11, 0, "D", "b", 0, "w1"),
        _row(12, 0, "I", "c", 0, "alive"),
    ])
    # newer batch first, older second
    t.merge_changes(b2, PK_COLS, batch_id="b2")
    t.merge_changes(b1, PK_COLS, batch_id="b1")

    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got == {("a", 0): "v2", ("c", 0): "alive"}  # b deleted, c resurrected later

    # tombstone rows retained physically until vacuum
    assert _raw_rows(t) == {("a", 0, "v2", 10, False),
                            ("b", 0, "w1", 11, True),
                            ("c", 0, "alive", 12, False)}
    t.vacuum_tombstones(before_lsn=100)
    assert _raw_rows(t) == {("a", 0, "v2", 10, False),
                            ("c", 0, "alive", 12, False)}
    got2 = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got2 == got


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_versioned_delete_not_resurrected_by_late_old_update(
        spark, tmpdir_path, merge_mode):
    t = _versioned_table(spark, os.path.join(tmpdir_path, "t2"), merge_mode, 2)
    t.merge_changes(_changes(spark, [_row(5, 0, "D", "x", 0, "dead")]),
                    PK_COLS, batch_id="del")
    # a LATE, OLDER update must not resurrect the deleted key
    t.merge_changes(_changes(spark, [_row(2, 0, "U", "x", 0, "zombie")]),
                    PK_COLS, batch_id="late")
    assert t.read().count() == 0
    assert _raw_rows(t) == {("x", 0, "dead", 5, True)}


def test_vacuum_without_stale_tombstones_commits_nothing(spark, tmpdir_path):
    """A vacuum with nothing to drop leaves the table at its version, so
    a changelog read across it still works."""
    t = _versioned_table(spark, os.path.join(tmpdir_path, "t"), "cow", 4)
    t.merge_changes(_changes(spark, [_row(1, 0, "I", "a", 0, "v1"),
                                     _row(1, 1, "I", "b", 0, "w1")]),
                    PK_COLS, batch_id="b1")
    v = t.current_version()
    assert t.vacuum_tombstones(before_lsn=100) == 0
    assert t.current_version() == v
    t.merge_changes(_changes(spark, [_row(2, 0, "U", "a", 0, "v2")]),
                    PK_COLS, batch_id="b2")
    assert [(r.conv_id, r.op, r.text)
            for r in t.changes_between(v).collect()] == [("a", "u", "v2")]


def test_structured_streaming_replay(spark, tmpdir_path):
    snap = generate_snapshot(spark, n_convs=50, turns_per_conv=8, seed=21)
    binlog = generate_binlog(spark, n_ops=800, n_convs=50, turns_per_conv=8, seed=21)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "binlog"), bucket_size=20)
    src.write(binlog)

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t3"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=4, versioned=True,
    )
    t.overwrite(snap, batch_id="snapshot", position=(0, 0))

    s = StreamingCdc(
        spark, os.path.join(tmpdir_path, "binlog"), t,
        os.path.join(tmpdir_path, "sckpt"),
        max_files_per_trigger=3,  # force several micro-batches
    )
    s.run_available()

    want = oracle_final_state(snap, binlog)
    assert_df_equal(t.read(), want, PK_COLS)

    # new files appear -> a second availableNow pass picks up only them
    tail = generate_binlog(spark, n_ops=300, n_convs=50, turns_per_conv=8,
                           seed=22, lsn_offset=5000)
    src.write(tail)
    s.run_available()
    want2 = oracle_final_state(snap, binlog.unionByName(tail))
    assert_df_equal(t.read(), want2, PK_COLS)


def test_streaming_checkpoint_reset_does_not_lose_batches(spark, tmpdir_path):
    """Deleting the streaming checkpoint restarts Spark epoch ids at 0; the
    sink batch id is namespaced per checkpoint identity, so the reprocessed
    epochs must NOT silently no-op against ids committed by the old run."""
    import shutil

    rows1 = [_row(1, 0, "I", "a", 0, "v1")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(_px(spark, rows1))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                         n_buckets=2, versioned=True)
    ck = os.path.join(tmpdir_path, "sck")
    StreamingCdc(spark, os.path.join(tmpdir_path, "bl"), t, ck).run_available()
    assert {r.text for r in t.read().collect()} == {"v1"}

    # checkpoint reset + new data: epoch ids restart at 0
    shutil.rmtree(ck)
    src.write(_px(spark, [_row(2, 0, "U", "a", 0, "v2")]))
    StreamingCdc(spark, os.path.join(tmpdir_path, "bl"), t, ck).run_available()
    assert {r.text for r in t.read().collect()} == {"v2"}


def _px(spark, rows):
    return spark.createDataFrame(rows, BINLOG_SCHEMA)


def _drain_engine(spark, binlog_dir, target, ckpt, schema):
    src = BinlogSource(spark, binlog_dir, bucket_size=8, schema=schema)
    CdcEngine(spark, src, target, ckpt).run_available()


def _drain_stream(spark, binlog_dir, target, ckpt, schema):
    StreamingCdc(spark, binlog_dir, target, ckpt, schema=schema).run_available()


@pytest.mark.parametrize("drain", [_drain_engine, _drain_stream],
                         ids=["engine", "stream"])
def test_streaming_normalizes_renames_and_added_columns(spark, tmpdir_path,
                                                        drain):
    """Both frontends run one normalization: the lake's historized renames
    (a chain tool -> tool_name -> tool_id) map old- and mid-instance rows
    onto the current name, rows written before an int -> bigint ALTER are
    up-cast, target-only columns fill as NULL, and a column the target
    dropped but the capture files still carry is projected away —
    identical final state from ``CdcEngine`` and ``StreamingCdc``."""
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                         n_buckets=2, versioned=True)
    t.add_column("n", "int")
    t.rename_column("tool", "tool_name")
    t.rename_column("tool_name", "tool_id")
    t.alter_column("n", "bigint")
    t.add_column("score", "double", default=0.5)
    t.drop_column("role")

    # the capture files still carry `tool` (old instance) or `tool_name`
    # (mid instance), `n` as int, and the dropped `role`
    schema = T.StructType(BINLOG_SCHEMA.fields + [
        T.StructField("tool_name", T.StringType(), True),
        T.StructField("n", T.IntegerType(), True),
    ])

    def row(lsn, op, conv, text, tool, tool_name, n):
        return (lsn, 0, op, "transcripts", 0, conv, 0, "user", text, tool,
                TS, tool_name, n)

    rows = [
        row(1, "I", "a", "hello", "bash", None, 1),
        row(2, "I", "b", "x", "grep", None, 2),
        row(3, "U", "a", "hello-v2", None, "sed", 3),
        row(4, "D", "b", "x", None, "grep", 2),
        row(5, "I", "c", "c0", None, "awk", 2**31 - 1),
    ]
    binlog_dir = os.path.join(tmpdir_path, "bl")
    BinlogSource(spark, binlog_dir, bucket_size=8).write(
        spark.createDataFrame(rows, schema))

    drain(spark, binlog_dir, t, os.path.join(tmpdir_path, "ck"), schema)
    got = t.read()
    assert got.schema["n"].dataType == T.LongType()
    assert "tool" not in got.columns and "tool_name" not in got.columns
    assert "role" not in got.columns
    assert {(r.conv_id, r.text, r.tool_id, r.n, r.score)
            for r in got.collect()} == {
        ("a", "hello-v2", "sed", 3, None),    # explicit NULL from new data
        ("c", "c0", "awk", 2**31 - 1, None),
    }


def test_structured_streaming_over_merge_on_read_target(spark, tmpdir_path):
    """The real high-frequency deployment combo: Structured Streaming
    micro-batches into a merge_mode='mor' target — each epoch appends
    O(changes) delta files, readers resolve the per-key LSN argmax, and
    compact() folds without changing state.  Must converge to the same
    oracle as the CoW path, including across a second availableNow pass."""
    snap = generate_snapshot(spark, n_convs=40, turns_per_conv=6, seed=27)
    binlog = generate_binlog(spark, n_ops=600, n_convs=40, turns_per_conv=6,
                             seed=27)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl-mor"),
                       bucket_size=20)
    src.write(binlog)

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t-mor"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=4, versioned=True,
        merge_mode="mor", key_cols=PK_COLS,
    )
    t.overwrite(snap, batch_id="snapshot", position=(0, 0))

    s = StreamingCdc(
        spark, os.path.join(tmpdir_path, "bl-mor"), t,
        os.path.join(tmpdir_path, "sckpt-mor"),
        max_files_per_trigger=3,
    )
    s.run_available()
    want = oracle_final_state(snap, binlog)
    assert_df_equal(t.read(), want, PK_COLS)

    # several epochs appended delta files; compact folds, state unchanged
    assert t.compact() > 0
    assert_df_equal(t.read(), want, PK_COLS)

    tail = generate_binlog(spark, n_ops=200, n_convs=40, turns_per_conv=6,
                           seed=28, lsn_offset=5000)
    src.write(tail)
    s.run_available()
    want2 = oracle_final_state(snap, binlog.unionByName(tail))
    assert_df_equal(t.read(), want2, PK_COLS)


def test_time_travel_and_changes_between(spark, tmpdir_path):
    """Snapshot isolation + incremental consumption: read(version=v)
    returns the state as of that commit, and changes_between(v1, v2)
    returns exactly the net per-key deltas — pinned by the contract
    read(v1) + apply(changes) == read(v2), including a tombstone for a
    key deleted in the window."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=2, versioned=True,
    )
    t.merge_changes(_changes(spark, [
        _row(1, 0, "I", "a", 0, "a0"),
        _row(1, 1, "I", "b", 0, "b0"),
        _row(2, 0, "I", "c", 0, "c0"),
    ]), PK_COLS, batch_id="b1")
    v1 = t.current_version()
    state_v1 = [(r.conv_id, r.turn_idx, r.text)
                for r in t.read().orderBy("conv_id", "turn_idx").collect()]

    t.merge_changes(_changes(spark, [
        _row(3, 0, "U", "a", 0, "a0-v2"),      # update
        _row(4, 0, "I", "d", 0, "d0"),         # insert
        _row(5, 0, "D", "b", 0, "b0"),         # delete
    ]), PK_COLS, batch_id="b2")
    v2 = t.current_version()

    # time travel: the old snapshot is still exactly readable
    got_v1 = [(r.conv_id, r.turn_idx, r.text)
              for r in t.read(version=v1)
              .orderBy("conv_id", "turn_idx").collect()]
    assert got_v1 == state_v1 == [("a", 0, "a0"), ("b", 0, "b0"),
                                  ("c", 0, "c0")]

    # net changes: one row per changed key, with op
    ch = t.changes_between(v1, v2)
    got = sorted((r.conv_id, r.turn_idx, r.op, r.text)
                 for r in ch.collect())
    assert got == [("a", 0, "u", "a0-v2"), ("b", 0, "d", "b0"),
                   ("d", 0, "u", "d0")]

    # the contract: applying the changes to a copy at v1 reproduces v2
    copy = LakeTable.create(
        spark, os.path.join(tmpdir_path, "copy"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=2, versioned=True,
    )
    copy.overwrite(t.read(version=v1), batch_id="seed", position=(0, 0))
    cols = [f.name for f in TRANSCRIPT_SCHEMA.fields]
    copy.merge_changes(
        ch.select(F.col("__commit_lsn").alias("commit_lsn"),
                  F.col("__intent_seq").alias("intent_seq"),
                  "op", *cols),
        PK_COLS, batch_id="apply")
    assert_df_equal(copy.read(), t.read(version=v2), PK_COLS)

    # unchanged keys never appear in the changelog
    assert not {r.conv_id for r in ch.collect()} & {"c"}


def test_changes_between_detects_vacuum_in_window(spark, tmpdir_path):
    """A vacuum_tombstones commit inside (from, to] physically removes
    delete events the changelog needs — changes_between must refuse
    rather than silently return an incomplete changelog (its contract
    read(from) + apply(changes) == read(to) would no longer hold)."""
    import pytest

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", n_buckets=2, versioned=True,
    )
    t.merge_changes(_changes(spark, [
        _row(1, 0, "I", "a", 0, "a0"),
        _row(1, 1, "I", "b", 0, "b0"),
    ]), PK_COLS, batch_id="b1")
    v1 = t.current_version()
    t.merge_changes(_changes(spark, [
        _row(5, 0, "D", "b", 0, "b0"),
    ]), PK_COLS, batch_id="b2")
    t.vacuum_tombstones(before_lsn=100)
    v2 = t.current_version()

    with pytest.raises(ValueError, match="vacuum-tombstones"):
        t.changes_between(v1, v2).collect()
    with pytest.raises(ValueError, match="vacuum-tombstones"):
        t.changes_between(v1).collect()          # to=current, same window

    # a window that STARTS at/after the vacuum commit is still served
    t.merge_changes(_changes(spark, [
        _row(7, 0, "I", "c", 0, "c0"),
    ]), PK_COLS, batch_id="b3")
    got = sorted((r.conv_id, r.op) for r in t.changes_between(v2).collect())
    assert got == [("c", "u")]
