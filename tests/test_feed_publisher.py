"""FeedPublisher: per-batch envelope segments published from the engine
loop — LSN-ordered, idempotent on batch replay (the Kafka-topic sink
analogue)."""

import datetime
import os

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import BINLOG_SCHEMA, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.streaming.engine import CdcEngine
from debezium_connector_db2_spark.streaming.feed import FeedPublisher

TS = datetime.datetime(2026, 1, 1)


def _row(lsn, seq, op, conv, turn, text):
    return (lsn, seq, op, "transcripts", 0, conv, turn, "user", text, None, TS)


def test_feed_segments_match_full_export_and_are_idempotent(spark, tmpdir_path):
    rows = [
        _row(1, 0, "I", "a", 0, "x"),
        _row(2, 0, "U", "a", 0, "x2"),
        _row(3, 0, "D", "a", 0, "x2"),
        _row(4, 0, "I", "b", 0, "y"),
    ]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=2)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=2)   # force multiple micro-batches
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"),
                        transaction_block=True)
    batches = eng.run_available(on_batch=pub.publish)
    assert len(batches) >= 2 and len(pub.segments()) >= 2

    # the concatenated feed equals one whole-range export, in LSN order
    got = pub.read().collect()
    want = (eng.export_envelope(1, 4, transaction_block=True)
            .orderBy("commit_lsn", "intent_seq").collect())
    assert [(r.commit_lsn, r.intent_seq,
             r.envelope.op if r.envelope else None) for r in got] == \
           [(r.commit_lsn, r.intent_seq,
             r.envelope.op if r.envelope else None) for r in want]
    ops = [r.envelope.op if r.envelope else "t0" for r in got]
    assert ops == ["c", "u", "d", "t0", "c"]   # tombstone after the delete

    # replaying a batch (crash-window restart) publishes nothing new
    n_before = len(pub.segments())
    for m in batches:
        assert pub.publish(m) is None
    assert len(pub.segments()) == n_before


def test_feed_publisher_skips_empty_batches(spark, tmpdir_path):
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=2)
    src.write(spark.createDataFrame([_row(1, 0, "I", "a", 0, "x")],
                                    BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"))

    class M:  # a genuinely-empty batch metric (merge ran, saw 0 events)
        epoch, from_lsn, to_lsn, events, applied = 9, 5, 7, 0, True

    assert pub.publish(M) is None
    eng.run_available(on_batch=pub.publish)
    assert len(pub.segments()) == 1

    class R:  # replayed-but-truly-empty: merge dedup-skipped, export
        epoch, from_lsn, to_lsn, events, applied = 9, 5, 7, 0, False

    assert pub.publish(R) is None          # export decides: no events there
    assert len(pub.segments()) == 1


def test_feed_publisher_replay_recovers_lost_segment(spark, tmpdir_path):
    """Exactly-once across the crash window (ADVICE r3, high): the batch
    merged and checkpoint-crashed before publish ever ran; on restart the
    replayed batch reports events==0 (merge dedup-skips on its batch id),
    but the publisher must NOT trust that — it re-exports the interval
    and writes the missing segment."""
    from tests.conftest import SimulatedCrash, crash_at

    import pytest

    rows = [_row(1, 0, "I", "a", 0, "x"), _row(2, 0, "I", "b", 0, "y")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=4)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"))

    # crash after the merge commits, before checkpoint (and before the
    # publisher sees the batch — the crash hook raises first)
    with pytest.raises(SimulatedCrash):
        eng.run_available(on_batch=crash_at(1, pub.publish))
    assert pub.segments() == []             # nothing published pre-crash

    # restart: replayed batch is dedup-skipped (applied=False, events=0)
    # yet its segment gets published from the re-export
    eng2 = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    batches = eng2.run_available(on_batch=pub.publish)
    assert any(not m.applied for m in batches)
    segs = pub.segments()
    assert len(segs) == 1
    feed = pub.read().collect()
    assert sorted((r.key.conv_id, r.key.turn_idx) for r in feed
                  if r.envelope is not None) == [("a", 0), ("b", 0)]


def test_feed_hook_failure_replays_batch(spark, tmpdir_path):
    """The on_batch hook runs before the checkpoint write: a hook crash
    leaves the offset unadvanced, so the batch replays and the hook
    fires again — at-least-once delivery, exactly-once with the
    publisher's idempotent segment paths."""
    rows = [_row(1, 0, "I", "a", 0, "x")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=4)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"))

    calls = []

    def flaky(m):
        calls.append(m.epoch)
        if len(calls) == 1:
            raise RuntimeError("publisher down")
        return pub.publish(m)

    import pytest
    with pytest.raises(RuntimeError, match="publisher down"):
        eng.run_available(on_batch=flaky)
    # offset did not advance past the failed batch
    assert eng.checkpoint.read().commit_lsn == 0
    batches = eng.run_available(on_batch=flaky)
    assert calls == [1, 1] and len(batches) == 1
    assert len(pub.segments()) == 1


def test_feed_heartbeat_topic_for_empty_batches(spark, tmpdir_path):
    """heartbeats=True publishes empty batches as records on the sibling
    heartbeat topic, so liveness monitors see idle ticks via the feed."""
    rows = [_row(1, 0, "I", "a", 0, "x"), _row(50, 0, "I", "b", 0, "y")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=4)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=10)   # LSN gap -> an empty batch
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"),
                        heartbeats=True)
    batches = eng.run_available(on_batch=pub.publish)
    assert any(m.events == 0 for m in batches)
    hb = pub.read_heartbeats().collect()
    assert len(hb) >= 1 and all(r.op == "h" for r in hb)
    # data rows still land only on the data feed
    assert pub.read().count() == 2
    # replaying the empty batch publishes nothing new (idempotent)
    n = len(hb)
    for m in batches:
        pub.publish(m)
    assert len(pub.read_heartbeats().collect()) == n


def test_feed_read_from_lsn_prunes_segments(spark, tmpdir_path):
    """read(from_lsn=...) lists only the segments whose path-encoded LSN
    range can overlap — a consumer resuming near the head of the feed
    never pays a full-history listing or a global sort over it."""
    rows = [_row(i, 0, "I", f"c{i}", 0, f"t{i}") for i in range(1, 9)]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=2)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=2)    # 4 segments: (0,2](2,4](4,6](6,8]
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"))
    eng.run_available(on_batch=pub.publish)
    assert len(pub.segments()) == 4

    # suffix from lsn 5: only segments with to_lsn >= 5 are listed
    assert len(pub.segments(from_lsn=5)) == 2
    got = pub.read(from_lsn=5).collect()
    assert [r.commit_lsn for r in got] == [5, 6, 7, 8]   # ordered suffix
    # unordered read serves the same rows without the sort
    assert {r.commit_lsn for r in pub.read(from_lsn=5, ordered=False)
            .collect()} == {5, 6, 7, 8}

    import pytest
    with pytest.raises(ValueError, match="no published segments"):
        pub.read(from_lsn=999)


def test_feed_consumer_offsets_crash_between_poll_and_commit(spark, tmpdir_path):
    """FeedConsumer round-trip: poll -> process -> commit moves the
    group's frontier atomically; a crash between poll and commit (no
    commit written) re-delivers the SAME interval to the next consumer
    instance — at-least-once delivery over which (commit_lsn,
    intent_seq)-idempotent processors compose to exactly-once."""
    rows = [
        _row(1, 0, "I", "a", 0, "x"),
        _row(2, 0, "U", "a", 0, "x2"),
        _row(3, 0, "I", "b", 0, "y"),
        _row(4, 0, "U", "b", 0, "y2"),
    ]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=2)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=2)
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"))
    eng.run_available(on_batch=pub.publish)
    odir = os.path.join(tmpdir_path, "offsets")

    c = pub.consumer(odir, group="indexer")
    assert c.committed() == 0
    b1 = c.poll(max_lsns=2)
    assert (b1.from_lsn, b1.to_lsn) == (0, 2)
    assert sorted(r.commit_lsn for r in b1.df.collect()) == [1, 2]
    # CRASH here: no commit.  A fresh consumer re-delivers the interval.
    c2 = pub.consumer(odir, group="indexer")
    b1r = c2.poll(max_lsns=2)
    assert (b1r.from_lsn, b1r.to_lsn) == (0, 2)
    c2.commit()
    assert c2.committed() == 2

    # next poll starts after the committed frontier
    b2 = c2.poll()
    assert (b2.from_lsn, b2.to_lsn) == (2, 4)
    assert sorted(r.commit_lsn for r in b2.df.collect()) == [3, 4]
    c2.commit()
    assert c2.poll() is None      # caught up

    # independent group has its own frontier
    other = pub.consumer(odir, group="auditor")
    assert other.committed() == 0
    assert other.poll().to_lsn == 4

    # the offset never moves backwards
    import pytest
    with pytest.raises(ValueError, match="backwards"):
        c2.commit(1)


def test_feed_prune_retention_soak_with_lagging_consumer(spark, tmpdir_path):
    """Feed retention (round-6 item 4): over a 50-batch soak with prune
    after every batch, the segment count stays bounded by what the
    slowest consumer group still needs — a lagging group's unread
    segments are never removed, a caught-up-only frontier empties the
    history down to the newest segment, and pruned reads still serve
    every group from its committed offset."""
    n_batches = 50
    rows = [_row(i + 1, 0, "I", f"c{i}", 0, f"t{i}") for i in range(n_batches)]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=1)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=1)   # one segment per event
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"))
    odir = os.path.join(tmpdir_path, "offsets")
    fast = pub.consumer(odir, group="fast")
    slow = pub.consumer(odir, group="slow")
    slow_committed = 0
    max_live = 0
    n_published = 0

    def on_batch(m):
        nonlocal slow_committed, max_live, n_published
        if pub.publish(m) is not None:
            n_published += 1
        # fast group drains fully every batch; slow lags ~10 behind
        b = fast.poll()
        if b is not None:
            b.df.count()
            fast.commit()
        while slow_committed + 10 <= pub.published_to():
            slow_committed += 1
            slow.commit(slow_committed)
        pub.prune(offset_dirs=[odir])
        max_live = max(max_live, len(pub.segments()))

    eng.run_available(on_batch=on_batch)
    assert n_published == n_batches
    # bounded: never more live segments than the slow group's lag window
    # (+1 for the newest segment, small slack for commit granularity)
    assert max_live <= 13, max_live
    # the lagging group can still read everything it hasn't committed
    remaining = slow.poll()
    got = sorted(r.commit_lsn for r in remaining.df.collect())
    assert got == list(range(slow.committed() + 1, n_batches + 1))

    # once every group catches up, prune collapses to the newest segment
    slow.commit(n_batches)
    pub.prune(offset_dirs=[odir])
    assert len(pub.segments()) == 1

    # with no committed group in a dir, prune removes nothing
    empty_dir = os.path.join(tmpdir_path, "offsets-empty")
    os.makedirs(empty_dir)
    assert pub.prune(offset_dirs=[odir, empty_dir]) == 0

    # explicit upto_lsn without offset dirs works, but never the newest
    assert pub.prune(upto_lsn=10 ** 9) == 0
    import pytest
    with pytest.raises(ValueError):
        pub.prune()


def _assert_segmented_matches_read(pub, n_rows):
    want = [(r.commit_lsn, r.intent_seq) for r in pub.read().collect()]
    got, seen_paths = [], []
    for seg, df in pub.read_segmented():
        seen_paths.append(seg)
        got.extend((r.commit_lsn, r.intent_seq) for r in df.collect())
    assert got == want and len(got) == n_rows
    assert seen_paths == pub.segments()

    # suffix read honors from_lsn on segment pruning AND row filtering
    cut = want[len(want) // 2][0]
    suffix = []
    for _seg, df in pub.read_segmented(from_lsn=cut):
        suffix.extend((r.commit_lsn, r.intent_seq) for r in df.collect())
    assert suffix == [p for p in want if p[0] >= cut]


def test_read_segmented_orders_without_total_sort(spark, tmpdir_path):
    """Full-history ordered consumption without the topic-wide sort:
    segments are disjoint (from, to] LSN ranges in path order, so
    concatenating per-segment-sorted frames reproduces read(ordered)
    exactly — and no per-segment plan contains an Exchange (the sort is
    within the one segment's partitions).  A blocking snapshot resets
    the batch epoch mid-feed; the segment order must still be LSN
    order."""
    from debezium_connector_db2_spark.streaming.signals import SignalChannel

    rows = [_row(l, s, "I", f"c{l}", s, f"t{l}{s}")
            for l in range(1, 9) for s in range(2)]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=2)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    signals = SignalChannel(os.path.join(tmpdir_path, "sig"))
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=2, signals=signals,
                    snapshot_source=t.read)
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"))
    eng.run_available(on_batch=pub.publish)
    assert len(pub.segments()) >= 3
    _assert_segmented_matches_read(pub, len(rows))

    # epoch reset: the blocking snapshot restarts batch epochs at the
    # current LSN, and the next drain publishes (8, 16] from epoch 1
    signals.send("execute-snapshot", {"type": "blocking"})
    eng.run_available(on_batch=pub.publish)
    assert eng.checkpoint.read().epoch == 0
    more = [_row(l, s, "I", f"c{l}", s, f"t{l}{s}")
            for l in range(9, 17) for s in range(2)]
    src.write(spark.createDataFrame(more, BINLOG_SCHEMA))
    eng.run_available(on_batch=pub.publish)
    assert pub.published_to() == 16
    _assert_segmented_matches_read(pub, len(rows) + len(more))


def test_replay_wider_than_published_batch_adds_no_overlap(spark,
                                                          tmpdir_path):
    """A batch publishes, then the process dies before its checkpoint;
    the log grows and the replayed batch covers a wider interval.  The
    replay publishes only what lies past the published frontier: every
    event appears once, and the segments hold disjoint LSN ranges in
    order."""
    from tests.conftest import SimulatedCrash

    import pytest

    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=2)
    src.write(spark.createDataFrame(
        [_row(1, 0, "I", "a", 0, "x"), _row(2, 0, "I", "b", 0, "y")],
        BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    pub = FeedPublisher(eng, os.path.join(tmpdir_path, "feed"))

    def publish_then_crash(m):
        pub.publish(m)
        raise SimulatedCrash(m.epoch)

    with pytest.raises(SimulatedCrash):
        eng.run_available(on_batch=publish_then_crash)
    assert pub.published_to() == 2 and eng.checkpoint.read().commit_lsn == 0

    src.write(spark.createDataFrame(
        [_row(3, 0, "U", "a", 0, "x2"), _row(4, 0, "I", "c", 0, "z")],
        BINLOG_SCHEMA))
    eng2 = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    eng2.run_available(on_batch=pub.publish)
    assert pub.published_to() == 4

    got = [(r.commit_lsn, r.intent_seq) for r in pub.read().collect()]
    assert len(got) == len(set(got))
    assert [lsn for lsn, _ in got] == [1, 2, 3, 4]
    # segment by segment: disjoint ranges, in LSN order
    flat = [r.commit_lsn for _seg, df in pub.read_segmented()
            for r in df.collect()]
    assert flat == [1, 2, 3, 4]
