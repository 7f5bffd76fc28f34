"""S4: multi-table change streams — one binlog, N capture feeds, each
replayed into its own lake table (the reference opens N cursors and
k-way-merges; here each engine's table filter prunes its slice)."""

import datetime
import os

from pyspark.sql import functions as F

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.operators.masking import mask_hash
from debezium_connector_db2_spark.schemas import BINLOG_SCHEMA, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.streaming.engine import CdcEngine

TS = datetime.datetime(2026, 1, 1)


def _row(lsn, seq, op, table, conv, turn, text):
    return (lsn, seq, op, table, 0, conv, turn, "user", text, None, TS)


def test_two_tables_one_binlog(spark, tmpdir_path):
    rows = [
        _row(1, 0, "I", "tablea", "a", 0, "a0"),
        _row(1, 1, "I", "tableb", "b", 0, "b0"),
        _row(2, 0, "U", "tablea", "a", 0, "a0-v2"),
        _row(3, 0, "D", "tableb", "b", 0, "b0"),
        _row(4, 0, "I", "tableb", "b", 1, "b1"),
    ]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))

    engines = {}
    for name in ("tablea", "tableb"):
        t = LakeTable.create(spark, os.path.join(tmpdir_path, name),
                             TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
        engines[name] = CdcEngine(spark, src, t,
                                  os.path.join(tmpdir_path, f"ck-{name}"),
                                  table=name)
    for eng in engines.values():
        eng.run_available()

    a = {(r.conv_id, r.turn_idx): r.text
         for r in engines["tablea"].target.read().collect()}
    b = {(r.conv_id, r.turn_idx): r.text
         for r in engines["tableb"].target.read().collect()}
    assert a == {("a", 0): "a0-v2"}
    assert b == {("b", 1): "b1"}          # b0 deleted


def test_payload_transform_masks_before_storage(spark, tmpdir_path):
    rows = [_row(1, 0, "I", "transcripts", "c", 0, "secret-text")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(
        spark, src, t, os.path.join(tmpdir_path, "ck"),
        payload_transform=lambda df: mask_hash(df, "text", salt="s1"),
    )
    eng.run_available()
    stored = t.read().collect()[0].text
    import hashlib
    assert stored == hashlib.sha256(b"s1secret-text").hexdigest()


def test_compact_reduces_file_count(spark, tmpdir_path):
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    df = spark.createDataFrame([("c", 0, "user", "x", None, TS)], TRANSCRIPT_SCHEMA)
    for i in range(4):
        t.append(df.withColumn("turn_idx", F.lit(i)))
    m = t.manifest()
    assert any(len(ents) > 1 for ents in m["files"].values())
    n = t.compact()
    assert n >= 1
    m2 = t.manifest()
    assert all(len(ents) == 1 for ents in m2["files"].values())
    assert t.read().count() == 4


def test_cross_table_transaction_block(spark, tmpdir_path):
    """export_envelope_multi: the transaction block spans the commit's
    tables — total_order 1..2N interleaved, data_collection_order
    (c+1)/2 per table (``TransactionMetadataIT.java:104-117``)."""
    from debezium_connector_db2_spark.streaming.engine import (
        export_envelope_multi,
    )

    # one transaction (lsn=7) interleaving two tables, like the IT
    rows = [
        _row(7, 0, "I", "tablea", "a", 0, "a0"),
        _row(7, 1, "I", "tableb", "b", 0, "b0"),
        _row(7, 2, "I", "tablea", "a", 1, "a1"),
        _row(7, 3, "I", "tableb", "b", 1, "b1"),
    ]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    engines = {}
    for name in ("tablea", "tableb"):
        t = LakeTable.create(spark, os.path.join(tmpdir_path, name),
                             TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                             n_buckets=2)
        engines[name] = CdcEngine(spark, src, t,
                                  os.path.join(tmpdir_path, f"ck-{name}"),
                                  table=name)
    out = export_envelope_multi(engines, 7, 7).collect()
    by_seq = sorted(out, key=lambda r: r.intent_seq)
    got = [(r.table, r.envelope.transaction.total_order,
            r.envelope.transaction.data_collection_order) for r in by_seq]
    assert got == [("tablea", 1, 1), ("tableb", 2, 1),
                   ("tablea", 3, 2), ("tableb", 4, 2)]
    assert {r.envelope.transaction.id for r in out} == {"0000000000000007"}


def _two_engines(spark, tmpdir_path, rows, max_lsns_per_batch=None):
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    engines = {}
    for name in ("tablea", "tableb"):
        t = LakeTable.create(spark, os.path.join(tmpdir_path, name),
                             TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                             n_buckets=2)
        engines[name] = CdcEngine(spark, src, t,
                                  os.path.join(tmpdir_path, f"ck-{name}"),
                                  table=name,
                                  max_lsns_per_batch=max_lsns_per_batch)
    return src, engines


def test_multi_feed_publisher_cross_table_order(spark, tmpdir_path):
    """MultiFeedPublisher: one transaction-ordered topic across tables.
    An interval publishes only once EVERY table has applied past it
    (per-table engines batch independently); the published stream is in
    (commit_lsn, intent_seq) order across tables with commit-spanning
    transaction blocks."""
    from debezium_connector_db2_spark.streaming.feed import MultiFeedPublisher

    rows = [
        _row(1, 0, "I", "tablea", "a", 0, "a0"),
        _row(1, 1, "I", "tableb", "b", 0, "b0"),
        _row(2, 0, "U", "tablea", "a", 0, "a0-v2"),
        _row(3, 0, "I", "tableb", "b", 1, "b1"),
    ]
    src, engines = _two_engines(spark, tmpdir_path, rows,
                                max_lsns_per_batch=2)
    pub = MultiFeedPublisher(engines, os.path.join(tmpdir_path, "feed"))

    # after only tablea has run, nothing publishes: tableb's side of the
    # interval is not yet applied
    engines["tablea"].run_available(on_batch=pub.hook_for("tablea"))
    assert pub.segments() == []

    engines["tableb"].run_available(on_batch=pub.hook_for("tableb"))
    pub.drain()
    assert len(pub.segments()) >= 1
    assert pub.published_to() == 3

    got = [r for r in pub.read().collect() if r.envelope is not None]
    assert [(r.commit_lsn, r.table, r.envelope.op) for r in got] == [
        (1, "tablea", "c"), (1, "tableb", "c"),
        (2, "tablea", "u"), (3, "tableb", "c")]
    # transaction block spans the commit across both tables
    tx1 = [r for r in got if r.commit_lsn == 1]
    assert [r.envelope.transaction.total_order for r in tx1] == [1, 2]
    assert [r.envelope.transaction.data_collection_order for r in tx1] == [1, 1]

    # drain is idempotent: replaying every batch publishes nothing new
    n = len(pub.segments())
    pub2 = MultiFeedPublisher(engines, os.path.join(tmpdir_path, "feed"))
    assert pub2.run_all() == []
    assert len(pub2.segments()) == n


def test_multi_feed_publisher_idle_table_heartbeat(spark, tmpdir_path):
    """A table with no events must not stall the cross-table frontier:
    run_all heartbeats idle tables to the binlog max, so the interval
    publishes even though tableb's checkpoint never moved."""
    from debezium_connector_db2_spark.streaming.feed import MultiFeedPublisher

    rows = [
        _row(1, 0, "I", "tablea", "a", 0, "a0"),
        _row(2, 0, "U", "tablea", "a", 0, "a0-v2"),
    ]
    src, engines = _two_engines(spark, tmpdir_path, rows)
    pub = MultiFeedPublisher(engines, os.path.join(tmpdir_path, "feed"))
    pub.run_all()
    # the frontier advanced past tableb despite it contributing no events
    # (its empty batches / the heartbeat carry it to the binlog max)
    assert len(pub.segments()) == 1 and pub.published_to() == 2
    got = [r for r in pub.read().collect() if r.envelope is not None]
    assert [(r.table, r.envelope.op) for r in got] == [
        ("tablea", "c"), ("tablea", "u")]


def test_case_sensitive_table_names(spark, tmpdir_path):
    """Mixed-case object names round-trip exactly
    (Db2CaseSensitiveObjectIT.java:62 testCaseSensitiveSchemaAndTable):
    the engine's table filter is an exact case-sensitive match, so
    'MyTableA' and 'mytablea' are distinct capture feeds, and the
    envelope's source.table preserves the case."""
    rows = [
        _row(1, 0, "I", "MyTableA", "a", 0, "upper"),
        _row(2, 0, "I", "mytablea", "a", 0, "lower"),
    ]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    engines = {}
    for name in ("MyTableA", "mytablea"):
        t = LakeTable.create(spark, os.path.join(tmpdir_path, f"t-{name}"),
                             TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                             n_buckets=2)
        engines[name] = CdcEngine(spark, src, t,
                                  os.path.join(tmpdir_path, f"ck-{name}"),
                                  table=name)
        engines[name].run_available()
    assert [r.text for r in engines["MyTableA"].target.read().collect()] \
        == ["upper"]
    assert [r.text for r in engines["mytablea"].target.read().collect()] \
        == ["lower"]
    env = engines["MyTableA"].export_envelope(1, 2).collect()
    assert [r.envelope.source.table for r in env] == ["MyTableA"]


def test_multi_feed_publisher_crash_recovery(spark, tmpdir_path):
    """Crash window for the cross-table feed: tablea merges then dies
    before its checkpoint; a fresh publisher over the same feed dir
    resumes from the segment listing + engine checkpoints, replays the
    dedup-skipped batch, and the feed ends complete with no duplicate
    segments."""
    from tests.conftest import SimulatedCrash, crash_at
    from debezium_connector_db2_spark.streaming.feed import MultiFeedPublisher

    import pytest

    rows = [
        _row(1, 0, "I", "tablea", "a", 0, "a0"),
        _row(2, 0, "I", "tableb", "b", 0, "b0"),
        _row(3, 0, "U", "tablea", "a", 0, "a0-v2"),
    ]
    src, engines = _two_engines(spark, tmpdir_path, rows)
    pub = MultiFeedPublisher(engines, os.path.join(tmpdir_path, "feed"))

    with pytest.raises(SimulatedCrash):
        engines["tablea"].run_available(
            on_batch=crash_at(1, pub.hook_for("tablea")))
    assert pub.segments() == []       # nothing publishable pre-crash

    # restart: fresh engines (same checkpoints/targets), fresh publisher
    src2, _ = src, None
    restarted = {}
    for name, eng in engines.items():
        restarted[name] = CdcEngine(
            spark, src2, eng.target,
            os.path.join(tmpdir_path, f"ck-{name}"), table=name)
    pub2 = MultiFeedPublisher(restarted, os.path.join(tmpdir_path, "feed"))
    pub2.run_all()
    assert pub2.published_to() == 3
    got = [r for r in pub2.read().collect() if r.envelope is not None]
    assert [(r.commit_lsn, r.table, r.envelope.op) for r in got] == [
        (1, "tablea", "c"), (2, "tableb", "c"), (3, "tablea", "u")]
    # replaying everything again publishes nothing new
    pub3 = MultiFeedPublisher(restarted, os.path.join(tmpdir_path, "feed"))
    assert pub3.run_all() == []
    assert len(pub3.segments()) == len(pub2.segments())


def test_multi_feed_heartbeat_never_outruns_checkpoints(spark, tmpdir_path):
    """Regression: run_all used to heartbeat each table to a *fresh*
    binlog.max_lsn() read after its engine drained.  If the shared
    binlog grows between the engine's final idle check and that read,
    the watermark claims LSNs the tables never applied — published_to
    outruns every checkpoint, and the late event is never published
    (next drain starts past it).  run_all must heartbeat to the
    engine's post-drain checkpoint instead."""
    from debezium_connector_db2_spark.streaming.feed import MultiFeedPublisher

    rows = [
        _row(1, 0, "I", "tablea", "a", 0, "a0"),
        _row(2, 0, "I", "tableb", "b", 0, "b0"),
    ]
    src, engines = _two_engines(spark, tmpdir_path, rows)
    pub = MultiFeedPublisher(engines, os.path.join(tmpdir_path, "feed"))

    late = [_row(3, 0, "U", "tablea", "a", 0, "a0-late")]
    for name, eng in engines.items():
        orig = eng.run_available

        def wrapped(orig=orig, *a, **kw):
            out = orig(*a, **kw)
            # the shared binlog grows right after this engine's final
            # idle check — the exact race window
            if src.max_lsn() < 3:
                src.write(spark.createDataFrame(late, BINLOG_SCHEMA))
            return out

        eng.run_available = wrapped

    pub.run_all()
    frontier = min(e.checkpoint.read().commit_lsn for e in engines.values())
    assert pub.published_to() <= frontier
    # the late event is not lost: a subsequent drain applies + publishes it
    for eng in engines.values():
        eng.run_available = eng.__class__.run_available.__get__(eng)
    pub.run_all()
    assert pub.published_to() == 3
    got = [r for r in pub.read().collect() if r.envelope is not None]
    assert ("a0-late" in str(got[-1].envelope.after)
            or any("a0-late" in str(r.envelope.after) for r in got))


def test_multi_feed_consumer_offsets(spark, tmpdir_path):
    """FeedConsumer composes with the cross-table publisher too: poll
    reads only segments past the committed frontier, commit advances it,
    an uncommitted poll re-delivers."""
    from debezium_connector_db2_spark.streaming.feed import MultiFeedPublisher

    rows = [
        _row(1, 0, "I", "tablea", "a", 0, "a0"),
        _row(2, 0, "I", "tableb", "b", 0, "b0"),
        _row(3, 0, "U", "tablea", "a", 0, "a0-v2"),
    ]
    src, engines = _two_engines(spark, tmpdir_path, rows)
    pub = MultiFeedPublisher(engines, os.path.join(tmpdir_path, "feed"))
    pub.run_all()
    c = pub.consumer(os.path.join(tmpdir_path, "off"), group="g")
    b = c.poll()
    assert (b.from_lsn, b.to_lsn) == (0, 3)
    assert sorted({r.commit_lsn for r in b.df.collect()}) == [1, 2, 3]
    # crash: no commit -> re-delivery
    c2 = pub.consumer(os.path.join(tmpdir_path, "off"), group="g")
    assert c2.poll().to_lsn == 3
    c2.commit()
    assert c2.poll() is None


def test_multi_feed_prune_binlog_honors_min_frontier(spark, tmpdir_path):
    """Shared-binlog prune must honor the MINIMUM frontier across every
    engine and the published feed (IBMSNAP_PRUNCNTL semantics): with one
    table lagging, only buckets below ITS checkpoint are removable."""
    from debezium_connector_db2_spark.streaming.feed import MultiFeedPublisher

    rows = ([_row(i, 0, "I", "tablea", "a", i, f"a{i}") for i in range(1, 30)]
            + [_row(i, 0, "I", "tableb", "b", i, f"b{i}")
               for i in range(30, 41)])
    src, engines = _two_engines(spark, tmpdir_path, rows)
    pub = MultiFeedPublisher(engines, os.path.join(tmpdir_path, "feed"))

    # only tablea drains: tableb's checkpoint stays at 0, so NOTHING is
    # prunable even though tablea consumed everything
    engines["tablea"].run_available(on_batch=pub.hook_for("tablea"))
    assert pub.prune_binlog() == 0

    engines["tableb"].run_available(on_batch=pub.hook_for("tableb"))
    pub.drain()
    removed = pub.prune_binlog()
    assert removed > 0
    assert src.min_lsn() >= 40 - 16 + 1   # frontier bucket retained
    # both tables' final state intact
    got = [r for r in pub.read().collect() if r.envelope is not None]
    assert len(got) == 40


def test_snapshot_overrides_config_map(spark, tmpdir_path):
    """S2 config-map surface: a `table -> predicate` map on CdcEngine
    filters that table's snapshot bulk load declaratively (the
    reference's snapshot.select.statement.overrides,
    Db2ConnectorConfig.java:677-695); tables absent from the map
    snapshot unfiltered, and streaming after the snapshot is
    unaffected."""
    snap_rows = [
        ("a", 0, "user", "keep-a0", None, TS),
        ("a", 1, "user", "drop-a1", None, TS),
        ("b", 0, "user", "keep-b0", None, TS),
    ]
    snap = spark.createDataFrame(snap_rows, TRANSCRIPT_SCHEMA)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)

    overrides = {"tablea": "text LIKE 'keep-%'"}
    engines = {}
    for name in ("tablea", "tableb"):
        t = LakeTable.create(spark, os.path.join(tmpdir_path, name),
                             TRANSCRIPT_SCHEMA, bucket_by="conv_id",
                             n_buckets=2)
        engines[name] = CdcEngine(spark, src, t,
                                  os.path.join(tmpdir_path, f"ck-{name}"),
                                  table=name, snapshot_overrides=overrides)
        engines[name].snapshot_load(snap)

    # post-snapshot change: streaming is unaffected by the override
    src.write(spark.createDataFrame(
        [_row(1, 0, "I", "tablea", "a", 2, "streamed-a2")], BINLOG_SCHEMA))
    for eng in engines.values():
        eng.run_available()

    a = {(r.conv_id, r.turn_idx): r.text
         for r in engines["tablea"].target.read().collect()}
    b = {(r.conv_id, r.turn_idx): r.text
         for r in engines["tableb"].target.read().collect()}
    # tablea: filtered snapshot (drop-a1 excluded) + streamed row
    assert a == {("a", 0): "keep-a0", ("b", 0): "keep-b0",
                 ("a", 2): "streamed-a2"}
    # tableb: no override -> full snapshot
    assert b == {("a", 0): "keep-a0", ("a", 1): "drop-a1",
                 ("b", 0): "keep-b0"}
