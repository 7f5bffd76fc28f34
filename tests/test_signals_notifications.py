"""Signal-channel runtime control + notifications + error-driven repair.

Mirrors the reference's signal-driven tests: incremental snapshot
interleaved with streaming (``IncrementalSnapshotIT.java:37-273``),
blocking snapshot (``BlockingSnapshotIT.java:24-164``), pause/resume, the
notification lifecycle (``NotificationsIT``), and capture-set repair on a
broken feed (``Db2StreamingChangeEventSource.java:298-300, 338-348``).
"""

import datetime
import os

from pyspark.sql import functions as F

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import BINLOG_SCHEMA, PK_COLS, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.sources.generator import (
    generate_binlog,
    generate_snapshot,
    oracle_final_state,
)
from debezium_connector_db2_spark.sources.registry import CaptureRegistry
from debezium_connector_db2_spark.streaming.engine import CdcEngine, run_all_with_repair
from debezium_connector_db2_spark.streaming.notifications import NotificationLog
from debezium_connector_db2_spark.streaming.signals import SignalChannel

from tests.conftest import assert_df_equal

TS = datetime.datetime(2026, 1, 1)


def _row(lsn, seq, op, conv, turn, text):
    return (lsn, seq, op, "transcripts", 0, conv, turn, "user", text, None, TS)


def test_signal_incremental_snapshot_interleaves_with_stream(spark, tmpdir_path):
    """Start streaming WITHOUT an initial snapshot; an execute-snapshot
    signal sent between micro-batches backfills the missing rows in
    chunks, stamped at the stream position, and the final state equals
    the full snapshot+binlog oracle."""
    snap = generate_snapshot(spark, n_convs=60, turns_per_conv=6, seed=31)
    binlog = generate_binlog(spark, n_ops=900, n_convs=60, turns_per_conv=6,
                             seed=31, avg_tx_size=5)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=32)
    src.write(binlog)
    target = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                              TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                              n_buckets=4, versioned=True)
    signals = SignalChannel(os.path.join(tmpdir_path, "signals"))
    notif = NotificationLog(os.path.join(tmpdir_path, "notif.jsonl"))
    eng = CdcEngine(
        spark, src, target, os.path.join(tmpdir_path, "ck"),
        max_lsns_per_batch=50,
        signals=signals,
        # "read the live source now": snapshot + binlog effects up to the
        # engine's current position (what a real provider would see)
        snapshot_source=lambda: oracle_final_state(
            snap, binlog.where(
                F.col("commit_lsn") <= eng.checkpoint.read().commit_lsn)),
        notifications=notif,
    )

    sent = {"done": False}

    def on_batch(m):
        if m.epoch >= 2 and not sent["done"]:      # mid-stream, not at start
            signals.send("execute-snapshot",
                         {"type": "incremental", "n_chunks": 4})
            sent["done"] = True

    eng.run_available(on_batch=on_batch)
    assert sent["done"], "signal was never sent mid-stream"

    want = oracle_final_state(snap, binlog)
    assert_df_equal(target.read(), want, PK_COLS)

    kinds = [(n["aggregate_type"], n["type"]) for n in notif.read()]
    assert ("Incremental Snapshot", "STARTED") in kinds
    assert ("Incremental Snapshot", "COMPLETED") in kinds
    assert kinds.count(("Incremental Snapshot", "IN_PROGRESS")) == 4
    # signal consumed exactly once: a second drain re-runs nothing
    assert eng.process_signals() == 0


def test_signal_pause_resume(spark, tmpdir_path):
    rows = [_row(1, 0, "I", "a", 0, "v1"), _row(2, 0, "U", "a", 0, "v2")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    signals = SignalChannel(os.path.join(tmpdir_path, "sig"))
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    signals=signals)
    signals.send("pause")
    assert eng.run_available() == []        # paused: nothing applied
    assert t.read().count() == 0
    # pause survives an engine restart (durable marker)
    eng2 = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                     signals=signals)
    assert eng2.run_available() == []
    signals.send("resume")
    batches = eng2.run_available()
    assert len(batches) == 1
    assert {r.text for r in t.read().collect()} == {"v2"}


def test_pause_marker_is_durable_before_signal_is_consumed(
        spark, tmpdir_path, monkeypatch):
    """The pause marker goes through the durable atomic writer, and
    before the consumed-signal set: a crash can never leave a pause
    signal recorded as consumed while the pause itself is lost."""
    from debezium_connector_db2_spark.streaming import engine as engine_mod

    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    signals = SignalChannel(os.path.join(tmpdir_path, "sig"))
    ck = os.path.join(tmpdir_path, "ck")
    eng = CdcEngine(spark, src, t, ck, signals=signals)
    signals.send("pause")

    written = []
    real = engine_mod.write_atomic

    def recording(path, text):
        written.append(os.path.basename(path))
        real(path, text)

    monkeypatch.setattr(engine_mod, "write_atomic", recording)
    assert eng.process_signals() == 1
    assert eng.paused()
    assert written == ["paused", "signals_done.json"]


def test_signal_blocking_snapshot(spark, tmpdir_path):
    """Blocking snapshot mid-stream: full re-read of the current source,
    stream resumes past it (T7)."""
    rows = [_row(1, 0, "I", "a", 0, "v1"), _row(2, 0, "I", "b", 0, "w1")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    signals = SignalChannel(os.path.join(tmpdir_path, "sig"))
    current_source = spark.createDataFrame(
        [("a", 0, "user", "v1", None, TS), ("b", 0, "user", "w1", None, TS)],
        TRANSCRIPT_SCHEMA)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    signals=signals,
                    snapshot_source=lambda: current_source)
    signals.send("execute-snapshot", {"type": "blocking"})
    eng.run_available()
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got == {("a", 0): "v1", ("b", 0): "w1"}
    # stream continues from the snapshot position afterwards
    src.write(spark.createDataFrame([_row(5, 0, "U", "a", 0, "v2")],
                                    BINLOG_SCHEMA))
    eng.run_available()
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got[("a", 0)] == "v2"


def test_initial_snapshot_notifications(spark, tmpdir_path):
    snap = generate_snapshot(spark, n_convs=10, turns_per_conv=4, seed=7)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    notif = NotificationLog(os.path.join(tmpdir_path, "n.jsonl"))
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    notifications=notif)
    eng.snapshot_load(snap)
    eng.snapshot_load(snap)                    # second call: skipped
    kinds = [(n["aggregate_type"], n["type"]) for n in notif.read()]
    assert kinds == [("Initial Snapshot", "STARTED"),
                     ("Initial Snapshot", "COMPLETED"),
                     ("Initial Snapshot", "SKIPPED")]
    rows = notif.read()
    assert [n["seq"] for n in rows] == [0, 1, 2]
    # ids are uuids: unique even across concurrent writers on one log
    assert len({n["id"] for n in rows}) == 3
    assert all(len(n["id"]) == 32 for n in rows)


def test_bad_signal_does_not_wedge_the_loop(spark, tmpdir_path):
    """An unprocessable signal (here: execute-snapshot without a source
    provider) is surfaced on the notification channel and skipped — the
    stream keeps flowing and the signal is not retried forever."""
    rows = [_row(1, 0, "I", "a", 0, "v1")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    signals = SignalChannel(os.path.join(tmpdir_path, "sig"))
    notif = NotificationLog(os.path.join(tmpdir_path, "n.jsonl"))
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    signals=signals, notifications=notif)
    signals.send("execute-snapshot", {"type": "incremental"})  # no provider
    signals.send("definitely-not-a-signal-type")
    batches = eng.run_available()
    assert len(batches) == 1                       # stream still flowed
    assert t.read().count() == 1
    kinds = [(n["aggregate_type"], n["type"]) for n in notif.read()]
    assert ("Signal", "FAILED") in kinds
    assert ("Signal", "UNKNOWN") in kinds
    assert eng.process_signals() == 0              # consumed, not retried


def test_error_driven_capture_repair(spark, tmpdir_path):
    """One table's capture feed is corrupted mid-stream: that table is
    deregistered (the reference prunes the capture instance and retries),
    the other table completes."""
    reg = CaptureRegistry(os.path.join(tmpdir_path, "reg.json"))
    notif = NotificationLog(os.path.join(tmpdir_path, "n.jsonl"))
    engines = {}
    for name in ("tablea", "tableb"):
        reg.register_table(name)
        rows = [(1, 0, "I", name, 0, f"{name[-1]}", 0, "user", "x", None, TS)]
        src = BinlogSource(spark, os.path.join(tmpdir_path, f"bl-{name}"),
                           bucket_size=8)
        src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
        t = LakeTable.create(spark, os.path.join(tmpdir_path, f"t-{name}"),
                             TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                             n_buckets=2)
        engines[name] = CdcEngine(spark, src, t,
                                  os.path.join(tmpdir_path, f"ck-{name}"),
                                  table=name)

    # corrupt every data file of tableb's feed (vanished capture instance)
    bdir = os.path.join(tmpdir_path, "bl-tableb")
    for root, _, files in os.walk(bdir):
        for fn in files:
            if fn.endswith(".parquet"):
                with open(os.path.join(root, fn), "wb") as f:
                    f.write(b"corrupt")

    results = run_all_with_repair(engines, registry=reg, notifications=notif)
    assert isinstance(results["tableb"], Exception)
    assert not isinstance(results["tablea"], Exception)
    assert engines["tablea"].target.read().count() == 1
    states = {e["table"]: e["state"] for e in reg.entries()}
    assert states == {"tablea": "A", "tableb": "I"}
    kinds = [(n["aggregate_type"], n["type"], n["data"].get("table"))
             for n in notif.read()]
    assert ("Capture Repair", "DEREGISTERED", "tableb") in kinds


def test_second_execute_snapshot_signal_reapplies(spark, tmpdir_path):
    """A later execute-snapshot signal is a legitimate re-backfill: its
    chunks must APPLY, not be skipped by the first run's batch ids
    (chunk ids are namespaced per signal, ``incsnap-<signal_id>-<i>``)."""
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame([_row(1, 0, "I", "seed", 0, "x")],
                                    BINLOG_SCHEMA))
    target = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                              TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                              n_buckets=2, versioned=True)
    signals = SignalChannel(os.path.join(tmpdir_path, "signals"))
    notif = NotificationLog(os.path.join(tmpdir_path, "notif.jsonl"))
    state = {"text": "v1"}
    eng = CdcEngine(
        spark, src, target, os.path.join(tmpdir_path, "ck"),
        signals=signals,
        snapshot_source=lambda: spark.createDataFrame(
            [("a", 0, "user", state["text"], None, TS)], TRANSCRIPT_SCHEMA),
        notifications=notif,
    )
    signals.send("execute-snapshot", {"type": "incremental", "n_chunks": 2})
    eng.run_available()
    assert {r.text for r in target.read().where("conv_id='a'").collect()} \
        == {"v1"}

    # the source changed; a SECOND signal re-backfills the new value.
    # Advance the stream position so the re-snapshot rows (stamped at the
    # current position) win the versioned argmax over the first run's.
    src.write(spark.createDataFrame([_row(5, 0, "I", "seed", 1, "y")],
                                    BINLOG_SCHEMA))
    state["text"] = "v2"
    signals.send("execute-snapshot", {"type": "incremental", "n_chunks": 2})
    eng.run_available()
    assert {r.text for r in target.read().where("conv_id='a'").collect()} \
        == {"v2"}, "second snapshot's chunks were dedup-skipped"


def test_stop_snapshot_signal_aborts_chunk_loop(spark, tmpdir_path):
    """Debezium's stop-snapshot action: a stop signal sent after an
    execute-snapshot cancels the remaining chunks mid-loop; a stale stop
    (sent before) cannot cancel a later snapshot; a stop with nothing
    running is surfaced as SKIPPED."""
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame([_row(1, 0, "I", "seed", 0, "x")],
                                    BINLOG_SCHEMA))
    target = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                              TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                              n_buckets=2, versioned=True)
    signals = SignalChannel(os.path.join(tmpdir_path, "signals"))
    notif = NotificationLog(os.path.join(tmpdir_path, "notif.jsonl"))
    eng = CdcEngine(
        spark, src, target, os.path.join(tmpdir_path, "ck"),
        signals=signals,
        snapshot_source=lambda: spark.createDataFrame(
            [(f"c{i}", 0, "user", "t", None, TS) for i in range(8)],
            TRANSCRIPT_SCHEMA),
        notifications=notif,
    )
    # stop sent AFTER execute: chunk loop sees it on its first poll and
    # aborts before applying anything
    signals.send("execute-snapshot", {"type": "incremental", "n_chunks": 4})
    signals.send("stop-snapshot", {"type": "incremental"})
    eng.run_available()
    kinds = [(n["aggregate_type"], n["type"]) for n in notif.read()]
    assert ("Incremental Snapshot", "ABORTED") in kinds
    assert target.read().where("conv_id LIKE 'c%'").count() == 0

    # a NEW execute-snapshot is not cancelled by the (consumed) old stop
    signals.send("execute-snapshot", {"type": "incremental", "n_chunks": 4})
    eng.run_available()
    assert target.read().where("conv_id LIKE 'c%'").count() == 8
    kinds = [(n["aggregate_type"], n["type"]) for n in notif.read()]
    assert ("Incremental Snapshot", "COMPLETED") in kinds

    # a stop with no snapshot in progress is surfaced, not fatal
    signals.send("stop-snapshot")
    eng.run_available()
    skipped = [n for n in notif.read()
               if n["type"] == "SKIPPED"
               and n["aggregate_type"] == "Incremental Snapshot"]
    assert skipped and skipped[-1]["data"]["reason"] == "no snapshot in progress"
