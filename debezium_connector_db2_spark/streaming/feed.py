"""Change-event feed publishing — the Kafka-topic sink rendered as an
LSN-ordered parquet segment log.

The reference publishes per-table change events to Kafka topics as they
stream (``Db2ConnectorTask`` dispatch).  Here the topic is a directory of
parquet segments written by a ``FeedPublisher`` hooked into the engine
loop as its ``on_batch`` callback::

    pub = FeedPublisher(engine, feed_dir, transaction_block=True)
    engine.run_available(on_batch=pub.publish)

Segment ``seg-{from}-{to}`` holds the events of the LSN interval
``(from, to]``; segments are disjoint and listed in LSN order, and the
highest ``to`` is the feed's ``published_to`` frontier.

Exactly-once, from two halves:

* the engine fires ``on_batch`` *between* the merge commit and the
  checkpoint write, so a crash anywhere around publish replays the
  batch on restart (at-least-once delivery to the hook);
* every publish clips its interval at ``published_to``, so a replayed
  batch publishes only what lies past the frontier: nothing if it
  already published, the missing tail if its replay is wider than the
  crashed batch, and the whole interval if it crashed pre-publish.

``publish`` never decides emptiness from ``BatchMetrics.events`` alone:
a replayed batch reports ``events == 0`` (the merge dedup-skipped on
its batch id, so the stats Observation never ran) even though the LSN
interval holds real events.  When the merge was skipped the publisher
re-runs the envelope export over the interval and lets the export's own
row count decide — the binlog still holds the data.  Writes are staged
to a dot-prefixed temp dir (invisible to Spark's reader) and atomically
renamed in.

Consumers read the whole feed — or a suffix via ``read(from_lsn=...)``,
which prunes segments by the LSN range encoded in their path before
Spark ever lists a file — ordered by ``(commit_lsn, intent_seq)``, the
total order the reference's single-task serial dispatch guarantees per
partition, here carried as data so any number of downstream readers can
re-establish it.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, functions as F

from debezium_connector_db2_spark.streaming.checkpoint import write_atomic


def committed_frontier(offset_dirs) -> int:
    """The minimum committed LSN across every consumer-group manifest in
    ``offset_dirs`` — the feed's retention frontier: every event at or
    below it has been processed by ALL groups.  Returns 0 (protect
    everything) when any dir holds no manifests yet, mirroring the
    reference's per-subscriber prune frontier (``IBMSNAP_PRUNCNTL``
    keeps one row per subscriber; prune honors the min —
    ``asncdcaddremove.sql:77-105``)."""
    import json

    frontier = None
    for d in offset_dirs:
        found = False
        if os.path.isdir(d):
            for f in os.listdir(d):
                if not f.endswith(".json"):
                    continue
                try:
                    with open(os.path.join(d, f)) as fh:
                        lsn = int(json.load(fh)["commit_lsn"])
                except (ValueError, KeyError, OSError):
                    continue        # torn/foreign file: ignore, stay safe
                found = True
                frontier = lsn if frontier is None else min(frontier, lsn)
        if not found:
            return 0                # a dir with no committed group yet
    return frontier or 0


def _retention_upto(upto_lsn: int | None, offset_dirs) -> int:
    """Resolve a prune call's effective frontier: the consumer-group
    minimum (when ``offset_dirs`` is given), capped by an explicit
    ``upto_lsn``.  One of the two must be supplied — pruning with
    neither would be an unbounded delete."""
    if offset_dirs is None and upto_lsn is None:
        raise ValueError("prune needs offset_dirs (consumer-group "
                         "frontier) and/or an explicit upto_lsn")
    if offset_dirs is not None:
        f = committed_frontier(offset_dirs)
        return min(f, upto_lsn) if upto_lsn is not None else f
    return int(upto_lsn)


def _parquet_rows(path: str) -> int:
    """Row count of a written parquet directory from file footers — an
    os-level metadata read, no Spark job."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


class _SegmentLog:
    """An LSN-ordered log of parquet segment directories
    ``{prefix}{from}-{to}``, each holding the disjoint range ``(from,
    to]``.  The one owner of a topic's layout: naming, listing (always in
    ``to`` order), publishing, suffix reads, consumers and retention."""

    def __init__(self, spark, feed_dir: str, prefix: str):
        self.spark = spark
        self.dir = os.path.abspath(feed_dir)
        self.prefix = prefix
        os.makedirs(self.dir, exist_ok=True)

    @staticmethod
    def _to(name: str) -> int:
        return int(name.rsplit("-", 1)[1])

    def _names(self) -> list[str]:
        return sorted((d for d in os.listdir(self.dir)
                       if d.startswith(self.prefix)), key=self._to)

    def segments(self, from_lsn: int | None = None) -> list[str]:
        """Published segment paths in LSN order, optionally pruned to
        those whose encoded LSN range can contain events at or after
        ``from_lsn``."""
        return [os.path.join(self.dir, d) for d in self._names()
                if from_lsn is None or self._to(d) >= from_lsn]

    def published_to(self) -> int:
        """Highest LSN covered by a published segment (0 if none) — the
        frontier a :class:`FeedConsumer` can poll up to."""
        names = self._names()
        return self._to(names[-1]) if names else 0

    def _publish(self, from_lsn: int, to_lsn: int, frame,
                 keep=None) -> str | None:
        """Publish the interval ``(from_lsn, to_lsn]`` clipped to what
        lies past :meth:`published_to`, so a replay can never publish an
        LSN twice; None when nothing is left.  ``frame(lo, hi)`` builds
        the segment's rows for the clipped ``(lo, hi]``; the write is
        staged to a dot-prefixed temp dir (invisible to Spark's reader)
        and atomically renamed in, so a segment is all or nothing.  When
        ``keep(tmp)`` is false the staged write is discarded instead."""
        lo = max(from_lsn, self.published_to())
        if to_lsn <= lo:
            return None
        seg = f"{self.prefix}{lo}-{to_lsn}"
        tmp = os.path.join(self.dir, f".tmp-{seg}-{uuid.uuid4().hex[:8]}")
        frame(lo, to_lsn).write.mode("overwrite").parquet(tmp)
        if keep is not None and not keep(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
            return None
        final = os.path.join(self.dir, seg)
        os.rename(tmp, final)
        return final

    def read(self, from_lsn: int | None = None,
             ordered: bool = True) -> DataFrame:
        """The published feed in commit order; with ``from_lsn`` only
        events with ``commit_lsn >= from_lsn``, reading only the
        segments whose path-encoded range overlaps (the rest are never
        listed — a consumer resuming near the head of a 10^10-event feed
        scans a handful of tail segments, not the history).
        ``ordered=False`` skips the total (commit_lsn, intent_seq) sort
        for consumers that re-order downstream anyway.

        **Cost note:** ``ordered=True`` ends in a global sort over
        whatever matched — fine for a suffix read (a handful of tail
        segments), but a *full-history* read of a large feed becomes a
        total sort of the topic; for that case use
        :meth:`read_segmented`, which exploits segment disjointness to
        avoid the exchange entirely, or pass ``ordered=False`` and
        order per partition downstream."""
        segs = self.segments(from_lsn)
        if not segs:
            raise ValueError(f"feed {self.dir} has no published segments"
                             + (f" at or after lsn {from_lsn}"
                                if from_lsn is not None else ""))
        df = self.spark.read.parquet(*segs)
        if from_lsn is not None:
            df = df.where(F.col("commit_lsn") >= from_lsn)
        return df.orderBy("commit_lsn", "intent_seq") if ordered else df

    def read_segmented(self, from_lsn: int | None = None):
        """Ordered full-history consumption WITHOUT the total sort.

        Published segments hold disjoint half-open LSN ranges listed in
        LSN order, so the feed's global ``(commit_lsn, intent_seq)``
        order factorizes: segment order × within-segment order.  This
        yields ``(segment_path, DataFrame)`` pairs in feed order, each
        frame sorted within its own segment — every sort is bounded by
        one segment's size and NO cross-segment exchange ever happens,
        the way a Kafka consumer drains partitions in offset order
        rather than sorting the topic.  Drain pattern::

            for seg, df in feed.read_segmented():
                apply(df)          # rows of df are ordered; segments
                                   # arrive in global order
        """
        for seg in self.segments(from_lsn):
            df = self.spark.read.parquet(seg)
            if from_lsn is not None:
                df = df.where(F.col("commit_lsn") >= from_lsn)
            yield seg, df.orderBy("commit_lsn", "intent_seq")

    def consumer(self, offset_dir: str, group: str = "default"
                 ) -> "FeedConsumer":
        """A committed-offset consumer over this feed (see
        :class:`FeedConsumer`)."""
        return FeedConsumer(self, offset_dir, group=group)

    def prune(self, upto_lsn: int | None = None,
              offset_dirs=None) -> int:
        """Feed retention: remove published segments every consumer
        group has committed past — without it a 10^10-event deployment's
        feed directory grows without bound (the reference's downstream,
        Kafka, has topic retention; this is the analogous cycle, with
        the consumer-group offset manifests as the prune frontier).

        ``offset_dirs`` lists the offset directories of every known
        consumer group; the frontier is the **min** committed LSN across
        all their manifests (:func:`committed_frontier`), so a lagging
        group keeps its unread segments.  An explicit ``upto_lsn`` caps
        (or, alone, sets) the frontier — the operator override for a
        decommissioned group.  The newest segment is always retained
        (``published_to`` recovery).  Returns segments removed.

        A group added *after* a prune starts past the pruned history —
        the same contract as a new Kafka consumer on a retention-pruned
        topic.
        """
        frontier = _retention_upto(upto_lsn, offset_dirs)
        if frontier <= 0:
            return 0
        return self._prune_below(frontier)

    def _prune_below(self, frontier: int) -> int:
        """Remove segments whose ``to`` is ``<= frontier``, always
        keeping the newest (its ``to`` is the ``published_to`` recovery
        point — removing it would let a publisher restart republish from
        0, duplicating the stream).  A directory walk on path-encoded
        ranges, like ``BinlogSource.prune``; no Spark job."""
        old = [d for d in self._names()[:-1] if self._to(d) <= frontier]
        for d in old:
            shutil.rmtree(os.path.join(self.dir, d), ignore_errors=True)
        return len(old)


class FeedPublisher(_SegmentLog):
    """Per-table feed: segment ``seg-{from}-{to}`` holds the envelope
    records of the applied batches in ``(from, to]``."""

    def __init__(self, engine, feed_dir: str, tombstones: bool = True,
                 transaction_block: bool = False, heartbeats: bool = False,
                 **envelope_kwargs):
        super().__init__(engine.spark, feed_dir, "seg-")
        self.engine = engine
        self.tombstones = tombstones
        self.transaction_block = transaction_block
        #: with ``heartbeats=True`` empty batches become records on the
        #: sibling heartbeat topic (``<feed_dir>-heartbeats``) — the
        #: reference emits heartbeat-topic records so downstream liveness
        #: monitors see idle ticks (Debezium core heartbeat wiring; idle
        #: probe mirrors ``Db2StreamingChangeEventSource.java:147-152``)
        self.hb = (_SegmentLog(self.spark, self.dir + "-heartbeats", "hb-")
                   if heartbeats else None)
        self.envelope_kwargs = envelope_kwargs

    def _heartbeat(self, m) -> str | None:
        if self.hb is None:
            return None
        # an interval whose events are already on the data feed is not
        # idle: heartbeats publish only past both frontiers
        return self.hb._publish(
            max(m.from_lsn, self.published_to()), m.to_lsn,
            lambda lo, hi: self.spark.range(1).selectExpr(
                f"CAST({m.epoch} AS LONG) AS epoch",
                f"CAST({hi} AS LONG) AS lsn", "'h' AS op").coalesce(1))

    def publish(self, m) -> str | None:
        """Publish one applied batch's envelope records; engine
        ``on_batch`` hook.  Publishes ``(max(m.from_lsn, published_to),
        m.to_lsn]`` and returns the segment path, or None for an empty or
        already-published batch (empty batches become heartbeat records
        when ``heartbeats=True``).

        Replay-safe: ``m.events == 0`` is trusted only when the merge
        actually ran this call (``m.applied``).  A dedup-skipped replay
        re-exports the interval and decides emptiness from the export
        itself, so a segment lost to a crash between merge and publish
        is recovered on the replay instead of silently dropped.
        """
        if m.applied and m.events == 0:
            # genuinely empty interval, observed by the merge that just
            # ran — no data segment to (re)publish
            return self._heartbeat(m)
        # a replay of an interval that truly held no events (e.g. the
        # crashed batch itself was empty) is discarded — footer-metadata
        # check, no extra Spark job
        return self._publish(
            m.from_lsn, m.to_lsn,
            lambda lo, hi: self.engine.export_envelope(
                lo + 1, hi, tombstones=self.tombstones,
                transaction_block=self.transaction_block,
                **self.envelope_kwargs),
            keep=lambda tmp: _parquet_rows(tmp) > 0) or self._heartbeat(m)

    def _prune_below(self, frontier: int) -> int:
        # heartbeat segments below the frontier go too
        return super()._prune_below(frontier) + (
            self.hb._prune_below(frontier) if self.hb is not None else 0)

    def read_heartbeats(self) -> DataFrame:
        """The heartbeat topic (epoch, lsn, op='h'), LSN-ordered."""
        segs = self.hb.segments() if self.hb is not None else []
        if not segs:
            raise ValueError(f"{self.dir}-heartbeats has no heartbeat "
                             "segments")
        return self.spark.read.parquet(*segs).orderBy("lsn")


class FeedConsumer:
    """Committed-offset reader over a published feed — the consumer-side
    half of exactly-once, so every downstream doesn't reinvent it.

    The reference's consumers get this from Kafka's consumer-group
    offset commits; here the group's committed LSN lives in a one-line
    JSON manifest (``<offset_dir>/<group>.json``) written with
    ``write_atomic``, and the read→process→commit loop is::

        c = pub.consumer(offset_dir, group="indexer")
        batch = c.poll()                  # None when caught up
        if batch is not None:
            ... process batch.df ...      # idempotent on (commit_lsn,
            c.commit()                    #  intent_seq), like the lake
        # crash between poll and commit -> next poll re-delivers the
        # SAME interval (at-least-once); commit is the only state write

    ``poll`` reads ``(committed, published_to]`` via the publisher's
    segment pruning, so a resuming consumer scans only tail segments.
    Delivery is at-least-once; processors keyed on (commit_lsn,
    intent_seq) — like the lake MERGE — make the composition
    exactly-once, the same contract the engine itself uses.
    """

    def __init__(self, publisher: "FeedPublisher", offset_dir: str,
                 group: str = "default"):
        self.publisher = publisher
        self.offset_dir = os.path.abspath(offset_dir)
        self.group = group
        self._pending_to: int | None = None
        os.makedirs(self.offset_dir, exist_ok=True)

    @property
    def _path(self) -> str:
        return os.path.join(self.offset_dir, f"{self.group}.json")

    def committed(self) -> int:
        """The group's committed LSN frontier (0 = nothing committed):
        every event with ``commit_lsn <= committed()`` has been fully
        processed."""
        import json

        if not os.path.exists(self._path):
            return 0
        with open(self._path) as f:
            return int(json.load(f)["commit_lsn"])

    class Batch:
        def __init__(self, df: DataFrame, from_lsn: int, to_lsn: int):
            self.df = df
            self.from_lsn = from_lsn    # exclusive
            self.to_lsn = to_lsn        # inclusive

    def poll(self, max_lsns: int | None = None) -> "FeedConsumer.Batch | None":
        """The unprocessed interval ``(committed, published_to]`` as a
        Batch (its ``df`` is the feed suffix, segment-pruned), or None
        when caught up.  ``max_lsns`` bounds the interval for paced
        consumption.  Does NOT move the offset — :meth:`commit` does,
        after the caller has durably processed the batch."""
        lo = self.committed()
        hi = self.publisher.published_to()
        if hi <= lo:
            return None
        if max_lsns is not None:
            hi = min(hi, lo + max_lsns)
        df = (self.publisher.read(from_lsn=lo + 1, ordered=False)
              .where(F.col("commit_lsn") <= hi))
        self._pending_to = hi
        return FeedConsumer.Batch(df, lo, hi)

    def commit(self, to_lsn: int | None = None) -> None:
        """Atomically record the group's frontier: the last ``poll``'s
        ``to_lsn`` (or an explicit one).  ``write_atomic``, so a crash
        mid-commit leaves the previous offset intact — the manifest is
        either the old frontier or the new one, never torn."""
        import json

        to_lsn = to_lsn if to_lsn is not None else self._pending_to
        if to_lsn is None:
            raise ValueError("nothing polled and no to_lsn given")
        if to_lsn < self.committed():
            raise ValueError(
                f"commit {to_lsn} would move the offset backwards "
                f"(committed {self.committed()})")
        write_atomic(self._path, json.dumps(
            {"group": self.group, "commit_lsn": int(to_lsn)}))
        self._pending_to = None


class MultiFeedPublisher(_SegmentLog):
    """One transaction-ordered topic across all tables of a shared
    binlog — the cross-table counterpart of :class:`FeedPublisher`.

    The reference publishes per-table topics, but its transaction
    metadata spans the whole commit (``TransactionMetadataIT.java:
    104-117``: total_order counts 1..2N over two tables); consumers that
    reassemble transactions need the tables' events in one LSN-ordered
    stream.  Per-table engines batch independently, so an LSN interval
    is publishable only once **every** table has applied past it:

    * each engine's ``on_batch`` hook (from :meth:`hook_for`) advances
      that table's in-memory applied watermark and tries to drain;
    * the drain publishes the interval ``(published_to,
      min(table watermarks)]`` via ``export_envelope_multi`` — the
      cross-table envelope with commit-spanning transaction blocks;
    * ``published_to`` is recovered from the segment listing, so a
      replay publishes nothing twice and a restart resumes where the
      feed ends (watermarks re-derive from the engines' checkpoints —
      the same at-least-once hook + publish-past-``published_to``
      contract as the single-table publisher).

    Intervals are contiguous: every drained interval is written (an
    interval with no events across all tables becomes an empty segment)
    so the watermark always advances and a consumer's union of segments
    is gap-free.  Segment ``mseg-{from}-{to}`` holds ``(from, to]``.
    """

    def __init__(self, engines: dict, feed_dir: str,
                 tombstones: bool = True, transaction_block: bool = True,
                 **envelope_kwargs):
        if not engines:
            raise ValueError("MultiFeedPublisher needs at least one engine")
        self.engines = dict(engines)
        super().__init__(next(iter(self.engines.values())).spark, feed_dir,
                         "mseg-")
        self.tombstones = tombstones
        self.transaction_block = transaction_block
        self.envelope_kwargs = envelope_kwargs
        #: in-memory applied positions (ahead of checkpoints inside the
        #: pre-checkpoint hook window); checkpoints are the floor
        self._applied: dict[str, int] = {}

    def hook_for(self, table: str):
        """The ``on_batch`` hook for ``engines[table]``::

            for name, eng in engines.items():
                eng.run_available(on_batch=pub.hook_for(name))
        """
        if table not in self.engines:
            raise ValueError(f"unknown table {table!r}")

        def _hook(m):
            self._applied[table] = max(self._applied.get(table, 0), m.to_lsn)
            return self.drain()

        return _hook

    def heartbeat(self, table: str, to_lsn: int) -> None:
        """Advance an idle table's watermark: a table with no events in
        ``(checkpoint, to_lsn]`` never gets a batch, its checkpoint never
        moves, and it would stall the cross-table frontier forever — the
        exact low-traffic-source problem Debezium's heartbeats exist for.
        Call after the table's engine has drained to ``to_lsn``."""
        self._applied[table] = max(self._applied.get(table, 0), int(to_lsn))

    def run_all(self) -> list[str]:
        """Drain every engine with its hook wired, heartbeat idle tables
        up to the shared binlog max, and publish everything publishable.
        The one-call form of the wiring shown in :meth:`hook_for`."""
        for name, eng in self.engines.items():
            eng.run_available(on_batch=self.hook_for(name))
            # heartbeat to the engine's *post-drain checkpoint*, not a
            # fresh binlog.max_lsn() read: the shared binlog may have
            # grown between the engine's final idle check and now, and
            # the watermark must never claim LSNs this table hasn't
            # applied ("every table has applied" invariant of
            # _watermark).
            self.heartbeat(name, eng.checkpoint.read().commit_lsn or 0)
        return self.drain()

    def prune_binlog(self) -> int:
        """Drop fully-consumed buckets from the shared binlog: prune
        below the minimum checkpoint frontier across ALL engines AND the
        published feed frontier, so neither a lagging table nor an
        unpublished interval can lose data — the multi-subscriber form
        of the reference's capture prune cycle (``IBMSNAP_PRUNCNTL``
        keeps one frontier per subscriber; prune honors the min).
        Returns the number of buckets removed."""
        frontier = min(
            min(e.checkpoint.read().commit_lsn for e in self.engines.values()),
            self.published_to(),
        )
        binlogs = {id(e.binlog): e.binlog for e in self.engines.values()}
        return sum(b.prune(frontier) for b in binlogs.values())

    def _watermark(self) -> int:
        """The cross-table publishable frontier: every table has applied
        (merge-committed) at least this far."""
        marks = []
        for table, eng in self.engines.items():
            ck = eng.checkpoint.read().commit_lsn
            marks.append(max(ck, self._applied.get(table, 0)))
        return min(marks)

    def drain(self) -> list[str]:
        """Publish every complete interval past ``published_to``;
        returns the new segment paths (empty when nothing is ready).
        Safe to call at any time — e.g. once after restarting the
        engines, to publish a backlog the crashed process never did."""
        from debezium_connector_db2_spark.streaming.engine import (
            export_envelope_multi,
        )

        # from 0: _publish clips the interval at published_to
        seg = self._publish(
            0, self._watermark(),
            lambda lo, hi: export_envelope_multi(
                self.engines, lo + 1, hi, tombstones=self.tombstones,
                transaction_block=self.transaction_block,
                **self.envelope_kwargs))
        return [seg] if seg is not None else []
