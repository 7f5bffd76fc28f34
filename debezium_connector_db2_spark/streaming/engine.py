"""The CDC engine: snapshot-then-stream orchestration.

Spark rendering of the reference's coordinator + streaming loop
(``Db2ConnectorTask.java:82-179`` start sequence;
``Db2StreamingChangeEventSource.java:114-308`` loop):

* ``snapshot_load``      — initial consistent snapshot (S1; §3.2): bulk
  load the source into the target lake table and pin the snapshot LSN
  (the reference's ``determineSnapshotOffset`` handoff point).
* ``run_available``      — the micro-batch loop (T1/T2): probe max LSN
  (S5), read the LSN interval (S3, partition-pruned), drop already-applied
  positions (F2/F3), normalize the capture rows to the target's current
  shape (``normalize_changes``), dedup last-writer-wins (A4), MERGE into
  the lake table (J5) with a deterministic batch id (exactly-once, T4),
  advance the checkpoint — position and running counters in one write.
* schema changes         — configured ``SchemaChange``s and the DDL
  carried by the registry's new capture instances (S8), looked up in one
  place (``_switches``): a batch never crosses a switch, and the DDL runs
  once the checkpoint sits just before its effective LSN, mirroring the
  reference's LSN-ordered schema checkpoint queue
  (``Db2StreamingChangeEventSource.java:119, 241-245, 350-412``).

Crash-safety argument (tested in tests/test_restart.py): the lake commit
records the batch id atomically with the data.  If the process dies after
the MERGE but before the checkpoint write, the restart recomputes a batch
covering the same events; the MERGE is last-writer-wins per key, so
re-applying an already-applied prefix together with newer events yields
the same final state, and an *identical* recomputed batch is skipped
outright by its batch id; DDL is idempotent, so a replayed switch re-runs
as a no-op.  The batch counters ride in the checkpoint, so the crashed
batch counted nothing and its replay — wider or identical — counts it
once.  The tests reach that window through the ``on_batch`` hook,
which runs after the MERGE commits and before the checkpoint write.  The
reference reaches the same guarantee serially via per-record offsets +
event serial numbers (``Db2OffsetContext.java:66-104``,
``restartInTheMiddleOfTx*`` tests).
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field, replace
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.operators.classify import to_change_events
from debezium_connector_db2_spark.operators.dedup import latest_per_key
from debezium_connector_db2_spark.operators.filters import after_position
from debezium_connector_db2_spark.schemas import PK_COLS
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.streaming.checkpoint import (
    Checkpoint,
    Offset,
    write_atomic,
)

_log = logging.getLogger(__name__)


def _max(a, b):
    """``max`` of two optional values; None is no value."""
    return b if a is None else a if b is None else max(a, b)


def rename_map(target: LakeTable, manifest: dict | None = None) -> dict[str, str]:
    """Old binlog column -> current target column, composed over the
    lake's historized ``schema_versions`` (a->b then b->c gives a->c and
    b->c).  The old capture instance keeps writing the old name until its
    stop LSN; reads normalize it (Db2StreamingChangeEventSource
    migrateTable analogue).  Derived from the manifest, so renames applied
    by a previous process keep normalizing old-instance rows after a
    restart, the way the reference recovers rename history from its
    persisted schema-history topic (``Db2DatabaseSchema.java:30-77``),
    and a ``recover_schema_history`` forgets them."""
    renames: dict[str, str] = {}
    for sv in target.schema_versions(manifest):
        for old, new in sv.renamed.items():
            for k, v in list(renames.items()):
                if v == old:
                    renames[k] = new
            renames[old] = new
    # a rename chain back to its start (a->b->a) leaves nothing to map
    return {old: new for old, new in renames.items() if old != new}


def table_rows(raw: DataFrame, table: str, target: LakeTable,
               manifest: dict | None = None) -> DataFrame:
    """One table's capture rows (F1) under the target's current column
    names: a renamed column's old-instance values land in its new name."""
    df = raw.where(F.col("table") == table)
    for old, new in rename_map(target, manifest).items():
        if old in df.columns and new in df.columns:
            df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
        elif old in df.columns:
            df = df.withColumnRenamed(old, new)
    return df


def normalize_changes(raw: DataFrame, table: str, target: LakeTable) -> DataFrame:
    """Capture rows -> flat apply rows ``(commit_lsn, intent_seq, op,
    *target columns)`` in the target's current shape — the one step both
    frontends (``CdcEngine``, ``StreamingCdc``) run before dedup + MERGE.

    F1 table filter and renames (``table_rows``), then alignment: target
    columns the rows lack (a target-only ADD COLUMN) fill as NULL, and
    rows written before an ALTER COLUMN widening are up-cast losslessly;
    binlog columns the target no longer has (DROP COLUMN, filtered
    columns) are projected away.  ``D`` maps to ``d``, every other opcode
    to ``c``: a D+I update pair applied as independent rows is
    final-state-equivalent to the classified ``u`` (J3/J4), because
    last-writer-wins dedup is op-label-agnostic.
    """
    m = target.manifest()
    df = table_rows(raw, table, target, m)
    types = dict(df.dtypes)
    cols = []
    for f in target.schema(m).fields:
        if f.name not in types:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif types[f.name] != f.dataType.simpleString():
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(
        "commit_lsn", "intent_seq",
        F.when(F.col("op") == "D", F.lit("d")).otherwise(F.lit("c")).alias("op"),
        *cols,
    )


@dataclass
class SchemaChange:
    """A DDL to apply at ``effective_lsn`` (first LSN of the new schema)."""

    effective_lsn: int
    action: str  # 'add_column' | 'rename_column' | 'alter_column' | 'drop_column'
    args: dict = field(default_factory=dict)


@dataclass
class BatchMetrics:
    epoch: int
    from_lsn: int
    to_lsn: int
    events: int
    keys: int
    applied: bool


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        binlog: BinlogSource,
        target: LakeTable,
        checkpoint_dir: str,
        table: str = "transcripts",
        pk_cols: Sequence[str] = tuple(PK_COLS),
        max_lsns_per_batch: int | None = None,
        schema_changes: Sequence[SchemaChange] = (),
        registry=None,
        payload_transform: Callable[[DataFrame], DataFrame] | None = None,
        signals=None,
        snapshot_source: Callable[[], DataFrame] | None = None,
        notifications=None,
        schema_name: str = "cdc",
        message_key_columns: str | None = None,
        source_column_types: dict | None = None,
        datatype_propagate_source_type: str | None = None,
        column_propagate_source_type: str | None = None,
        auto_compact_files: int | None = None,
        snapshot_overrides: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.binlog = binlog
        self.target = target
        self.table = table
        self.pk_cols = list(pk_cols)
        self.max_lsns_per_batch = max_lsns_per_batch
        self.schema_changes = sorted(schema_changes, key=lambda c: c.effective_lsn)
        self.checkpoint = Checkpoint(checkpoint_dir)
        self.registry = registry
        #: optional vectorized transform applied to the flat change rows
        #: before dedup+merge — e.g. the F7 column mask/hash/truncate
        #: transforms (operators/masking.py), the reference's SMT slot
        self.payload_transform = payload_transform
        #: per-table snapshot SELECT overrides (S2) — ``table name ->
        #: SQL predicate`` applied to that table's snapshot source
        #: before the bulk load, the declarative analogue of the
        #: reference's ``snapshot.select.statement.overrides`` config
        #: map (``Db2ConnectorConfig.java:677-695``).  A predicate (not
        #: a full statement) keeps it composable with Catalyst: the
        #: filter pushes into the snapshot scan.  Tables absent from
        #: the map snapshot unfiltered; multi-table deployments pass
        #: the same map to every per-table engine.
        self.snapshot_overrides = dict(snapshot_overrides or {})
        self._streaming_disabled = False
        #: signal channel polled at the top of every micro-batch iteration
        #: (the reference's SignalProcessor, Db2ConnectorTask.java:142-147);
        #: consumed-signal ids are tracked in the checkpoint dir so replays
        #: after restart skip already-executed signals
        self.signals = signals
        #: provider of the *current* source-table contents, used by
        #: signal-driven snapshots (incremental / blocking)
        self.snapshot_source = snapshot_source
        #: notification channel (NotificationService analogue)
        self.notifications = notifications
        self._signals_done_file = os.path.join(
            os.path.abspath(checkpoint_dir), "signals_done.json")
        self._pause_file = os.path.join(
            os.path.abspath(checkpoint_dir), "paused")
        #: logical schema of the captured table, used to qualify names in
        #: the config-surface regexes below (the reference's
        #: ``SOURCE_OWNER``, e.g. DB2INST1)
        self.schema_name = schema_name
        #: Debezium ``message.key.columns`` — per-table-regex record-key
        #: rewrite (``Db2ConnectorIT.java:790-820``, DBZ-775); None keeps
        #: the PK struct as the key
        self.message_key_columns = message_key_columns
        #: capture catalog's source types, ``{col: (TYPE, length, scale)}``
        #: — feeds ``datatype.propagate.source.type``
        #: (``Db2ConnectorIT.java:822-871``)
        self.source_column_types = source_column_types
        self.datatype_propagate_source_type = datatype_propagate_source_type
        self.column_propagate_source_type = column_propagate_source_type
        #: When set, run_available compacts any bucket that accumulated
        #: more than this many files after each applied batch — the
        #: background-maintenance policy a merge-on-read table needs
        #: (every MERGE appends one delta file per touched bucket; the
        #: read-side resolve degrades linearly in files per bucket).
        #: Under the threshold the check is one manifest read, so the
        #: amortized cost is one bucket rewrite per `auto_compact_files`
        #: batches — the reference's prune cycle analogue
        #: (asncdc.c prune command).
        self.auto_compact_files = auto_compact_files

    # -- snapshot phase (S1, §3.2) ------------------------------------------

    def snapshot_load(self, source: DataFrame, mode: str = "initial",
                      config: dict | None = None,
                      custom: Callable[["CdcEngine", Offset], str] | None = None,
                      ) -> Offset:
        """Initial consistent snapshot -> bulk overwrite of the target.

        The caller passes a *pinned* source DataFrame (e.g. a lake-table
        version or a frozen parquet dir) — consistency without locks, the
        Spark analogue of the reference's isolation-level dance
        (``Db2SnapshotChangeEventSource.java:70-122``).  Streaming then
        starts from the current max binlog LSN.

        ``mode`` mirrors the reference's snapshot modes
        (``Db2ConnectorConfig.java:60-110``):

        * ``initial``      — snapshot once; skip if already completed.
        * ``initial_only`` — snapshot once; ``run_available`` then no-ops.
        * ``no_data``      — record the offset at the current max LSN
          without loading rows (schema/position only).
        * ``always``       — re-snapshot on every start.
        * ``when_needed``  — snapshot iff no completed checkpoint exists
          (same trigger condition as a fresh ``initial``; kept distinct
          for config parity).
        * ``recovery``     — rebuild a lost schema history from the lake
          (``LakeTable.recover_schema_history``) WITHOUT reloading data;
          requires a completed prior snapshot (running it on a fresh
          pipeline is the misuse the reference warns about).  Rename
          normalization state is reset — only the current shape is
          recoverable, as with the reference's rebuilt history topic
          (``Db2ConnectorIT.java:912-1085`` ALWAYS/RECOVERY tests).
        * ``configuration_based`` — behavior from ``config`` flags
          (``snapshot.mode.configuration.based.*``): ``snapshot_data``
          -> initial-style load, else ``snapshot_schema`` -> ``no_data``
          offset pin, else skip entirely.
        * ``custom``       — ``custom(engine, offset)`` returns one of
          the concrete mode names to run (the reference's pluggable
          ``CustomSnapshotterIT`` hook).
        """
        modes = ("initial", "initial_only", "no_data", "always",
                 "when_needed", "recovery", "configuration_based", "custom")
        if mode not in modes:
            raise ValueError(f"unknown snapshot mode {mode!r}")
        if mode == "custom":
            if custom is None:
                raise ValueError("mode='custom' requires a custom= callable")
            decided = custom(self, self.checkpoint.read())
            if decided == "custom" or decided not in modes:
                raise ValueError(f"custom snapshotter returned {decided!r}")
            return self.snapshot_load(source, decided, config=config)
        if mode == "configuration_based":
            cfg = config or {}
            if cfg.get("snapshot_data", False):
                return self.snapshot_load(source, "initial")
            if cfg.get("snapshot_schema", False):
                return self.snapshot_load(source, "no_data")
            self._notify("Initial Snapshot", "SKIPPED",
                         {"mode": mode, "config": cfg})
            return self.checkpoint.read()
        if mode == "recovery":
            off = self.checkpoint.read()
            if not off.snapshot_completed:
                raise ValueError(
                    "mode='recovery' rebuilds schema history for an "
                    "existing pipeline; no completed snapshot found — "
                    "run an initial snapshot instead")
            self._notify("Initial Snapshot", "STARTED", {"mode": mode})
            recovered = self.target.recover_schema_history()
            self._notify("Initial Snapshot", "COMPLETED",
                         {"mode": mode,
                          "recovered_columns": [f.name for f in recovered.fields]})
            return off
        self._streaming_disabled = mode == "initial_only"
        off = self.checkpoint.read()
        if off.snapshot_completed and mode in ("initial", "initial_only",
                                               "when_needed"):
            self._notify("Initial Snapshot", "SKIPPED", {"mode": mode})
            return off
        self._notify("Initial Snapshot", "STARTED", {"mode": mode})
        if mode == "no_data":
            snapshot_lsn = self.binlog.max_lsn() or 0
            off = replace(off, commit_lsn=snapshot_lsn, intent_seq=2**62,
                          epoch=0, snapshot_completed=True,
                          last_batch_id="no-data-snapshot")
            self.checkpoint.write(off)
            self._notify("Initial Snapshot", "COMPLETED",
                         {"mode": mode, "snapshot_lsn": snapshot_lsn})
            return off
        snapshot_lsn = self.binlog.max_lsn() or 0
        override = self.snapshot_overrides.get(self.table)
        if override is not None:
            # S2 config-map surface: the predicate composes BEFORE the
            # bulk load, so Catalyst pushes it into the snapshot scan
            source = source.where(override)
        batch_id = "snapshot"
        if mode == "always":
            import uuid as _uuid

            batch_id = f"snapshot-{_uuid.uuid4().hex[:8]}"
        self.target.overwrite(
            source, batch_id=batch_id,
            summary={"operation": "snapshot", "mode": mode,
                     "snapshot_lsn": snapshot_lsn},
            # versioned targets: stamp rows at the snapshot position so a
            # replayed pre-snapshot change can never clobber them
            position=(snapshot_lsn, 2**62),
        )
        off = replace(off, commit_lsn=snapshot_lsn, intent_seq=2**62, epoch=0,
                      snapshot_completed=True, last_batch_id=batch_id)
        self.checkpoint.write(off)
        self._notify("Initial Snapshot", "COMPLETED",
                     {"mode": mode, "snapshot_lsn": snapshot_lsn})
        return off

    def incremental_snapshot(
        self,
        source: DataFrame,
        n_chunks: int = 16,
        position: tuple[int, int] = (0, 0),
        run_id: str = "",
    ) -> int:
        """Chunked (incremental) snapshot interleaved with streaming — T8.

        The reference chunks by PK *ranges* because it reads through a
        B-tree index (``IncrementalSnapshotIT.java:37-273``, chunk 250
        rows); Spark has no index, so chunks are **hash slices** of the
        key space (``pmod(xxhash64(pk0), n_chunks)``) — evenly sized with
        no global sort.  Each chunk is MERGEd with a deterministic batch
        id (``incsnap-<run_id>-<i>``), so an interrupted backfill resumes
        by skipping completed chunks — while a *later* snapshot run
        (``run_id`` = the triggering signal's id) is a fresh namespace
        whose chunks apply instead of being dedup-skipped (a legitimate
        re-backfill, supported by the reference's repeatable
        ``execute-snapshot`` signal).

        Requires a *versioned* target: chunk rows are stamped at
        ``position`` (the LSN the snapshot was read at), so any streamed
        change newer than the snapshot wins regardless of whether it is
        applied before, between, or after chunks — the reference's
        watermark-based snapshot/stream dedup, expressed as row versions.
        Returns the number of chunks applied (skipped chunks excluded).
        """
        if not self.target.manifest().get("versioned", False):
            raise ValueError("incremental_snapshot requires a versioned target "
                             "(LakeTable.create(..., versioned=True))")
        override = self.snapshot_overrides.get(self.table)
        if override is not None:
            # the S2 override map applies to every snapshot read the
            # engine performs, chunked backfills included (the
            # reference's overrides are consulted on each snapshot
            # SELECT, Db2ConnectorConfig.java:677-695)
            source = source.where(override)
        pk0 = self.pk_cols[0]
        applied = 0
        self._notify("Incremental Snapshot", "STARTED",
                     {"table": self.table, "n_chunks": n_chunks})
        for i in range(n_chunks):
            # stop-snapshot signal (Debezium's abort action): polled
            # between chunks, so an operator can cancel a mistaken or
            # runaway backfill without killing the stream.  Only signals
            # sent AFTER the triggering one count (seq-prefixed ids are
            # send-ordered), so a stale stop can't cancel a later run.
            stop = self._pending_stop_signal(after_id=run_id)
            if stop is not None:
                done = self._signals_done()
                done.add(stop.id)
                self._mark_signal_done(done)
                self._notify("Incremental Snapshot", "ABORTED",
                             {"table": self.table, "signal_id": stop.id,
                              "chunks_applied": applied,
                              "chunks_remaining": n_chunks - i})
                return applied
            chunk = source.where(
                F.pmod(F.xxhash64(F.col(pk0)), F.lit(n_chunks)) == i
            ).select(
                F.lit("r").alias("op"),
                F.lit(position[0]).cast("long").alias("commit_lsn"),
                F.lit(position[1]).cast("long").alias("intent_seq"),
                *source.columns,
            )
            if self.target.merge_changes(
                chunk, self.pk_cols, op_col="op", delete_op="d",
                batch_id=f"incsnap-{run_id}-{i}" if run_id else f"incsnap-{i}",
                summary={"operation": "incremental-snapshot", "chunk": i,
                         "n_chunks": n_chunks},
            ):
                applied += 1
                self._notify("Incremental Snapshot", "IN_PROGRESS",
                             {"table": self.table, "chunk": i,
                              "n_chunks": n_chunks})
        self._notify("Incremental Snapshot", "COMPLETED",
                     {"table": self.table, "chunks_applied": applied})
        return applied

    # -- notifications (NotificationService analogue) -------------------------

    def _notify(self, aggregate_type: str, type: str, data: dict | None = None) -> None:
        if self.notifications is not None:
            self.notifications.emit(aggregate_type, type, data)

    # -- signal channel (SignalProcessor analogue) ----------------------------

    def paused(self) -> bool:
        """Pause state is durable (a marker in the checkpoint dir): a
        restarted engine stays paused until a resume signal arrives, like
        the reference's pause/resume snapshot signals."""
        return os.path.exists(self._pause_file)

    def _set_paused(self, value: bool) -> None:
        if value:
            write_atomic(self._pause_file, "1")
        elif os.path.exists(self._pause_file):
            os.remove(self._pause_file)

    def _signals_done(self) -> set[str]:
        import json

        if not os.path.exists(self._signals_done_file):
            return set()
        with open(self._signals_done_file) as f:
            return set(json.load(f))

    def _mark_signal_done(self, done: set[str]) -> None:
        import json

        write_atomic(self._signals_done_file, json.dumps(sorted(done)))

    def process_signals(self) -> int:
        """Consume pending signals in send order; returns how many ran.

        Executed at the top of every ``run_available`` iteration — the
        Spark rendering of the reference's in-stream ``SignalProcessor``
        (``Db2ConnectorTask.java:142-147``).  A signal is marked consumed
        *after* it executes (at-least-once); replay after a crash is safe
        because the actions are idempotent: incremental-snapshot chunks
        carry deterministic batch ids, blocking snapshots overwrite, and
        pause/resume are level- not edge-triggered.
        """
        if self.signals is None:
            return 0
        ran = 0
        for sig in self.signals.poll():
            # re-read per signal: a handler may itself consume a later
            # signal mid-action (stop-snapshot aborting a chunk loop)
            done = self._signals_done()
            if sig.id in done:
                continue
            try:
                self._handle_signal(sig)
            except Exception as e:  # noqa: BLE001
                # a bad signal must not wedge the streaming loop in a
                # crash-retry cycle: surface it and move on (the reference
                # logs and skips unprocessable signals)
                _log.warning("signal %s (%s) failed: %s", sig.id, sig.type, e)
                self._notify("Signal", "FAILED",
                             {"signal_id": sig.id, "signal_type": sig.type,
                              "error": str(e)[:500]})
            done.add(sig.id)
            self._mark_signal_done(done)
            ran += 1
        return ran

    def _pending_stop_signal(self, after_id: str = ""):
        """First unconsumed ``stop-snapshot`` signal sent after
        ``after_id`` (the in-progress snapshot's triggering signal)."""
        if self.signals is None:
            return None
        done = self._signals_done()
        for sig in self.signals.poll():
            if (sig.type == "stop-snapshot" and sig.id not in done
                    and sig.id > after_id):
                return sig
        return None

    def _handle_signal(self, sig) -> None:
        if sig.type == "execute-snapshot":
            kind = sig.data.get("type", "incremental")
            if self.snapshot_source is None:
                raise ValueError(
                    "execute-snapshot signal received but the engine has no "
                    "snapshot_source provider")
            source = self.snapshot_source()
            # the reference's additional-conditions: a SQL predicate
            # restricting which rows the signal-driven snapshot re-reads
            # (IncrementalSnapshotIT 'additional conditions' cases)
            cond = sig.data.get("additional_conditions")
            if cond:
                source = source.where(cond)
            if kind == "incremental":
                off = self.checkpoint.read()
                self.incremental_snapshot(
                    source,
                    n_chunks=int(sig.data.get("n_chunks", 16)),
                    # watermark dedup: chunk rows are stamped at the current
                    # stream position, so concurrently streamed newer
                    # changes win regardless of interleaving (T8)
                    position=(off.commit_lsn, 2**62),
                    # namespace chunk batch ids by the signal id: resuming
                    # THIS signal skips its completed chunks, while a later
                    # execute-snapshot signal applies fresh
                    run_id=str(sig.id),
                )
            elif kind == "blocking":
                self._notify("Blocking Snapshot", "STARTED",
                             {"table": self.table})
                self.snapshot_load(source, mode="always")
                self._notify("Blocking Snapshot", "COMPLETED",
                             {"table": self.table})
            else:
                raise ValueError(f"unknown snapshot kind {kind!r}")
        elif sig.type == "stop-snapshot":
            # consumed from inside the chunk loop when a snapshot is in
            # progress; reaching here means there is nothing to stop —
            # surface and move on (the reference logs the same)
            self._notify("Incremental Snapshot", "SKIPPED",
                         {"signal_id": sig.id,
                          "reason": "no snapshot in progress"})
        elif sig.type == "pause":
            self._set_paused(True)
            self._notify("Signal", "PAUSED", {"signal_id": sig.id})
        elif sig.type == "resume":
            self._set_paused(False)
            self._notify("Signal", "RESUMED", {"signal_id": sig.id})
        elif sig.type == "log":
            self._notify("Log", "MESSAGE", sig.data)
        else:
            # unknown signal types are surfaced, not fatal (reference logs
            # and skips unparseable signals)
            self._notify("Signal", "UNKNOWN", {"signal_id": sig.id,
                                               "signal_type": sig.type})

    # -- streaming phase -----------------------------------------------------

    def payload_cols(self) -> list[str]:
        # column.include/exclude resolve at TARGET CREATION
        # (filters.filtered_schema) — by the time the engine runs, the
        # target schema IS the filtered column set, so the payload
        # projection (and therefore the binlog scan pruning and the
        # exported events) carry only survivors by construction.
        return [f.name for f in self.target.schema().fields]

    def _apply_ddl(self, change: SchemaChange) -> None:
        if change.action == "add_column":
            self.target.add_column(**change.args)
        elif change.action == "rename_column":
            self.target.rename_column(**change.args)
        elif change.action == "alter_column":
            # default change / type widening; pre-alter binlog events
            # replayed across the switch LSN are cast to the widened
            # type by apply_batch's schema alignment
            self.target.alter_column(**change.args)
        elif change.action == "drop_column":
            # post-drop binlog events that still carry the column are
            # projected away by payload_cols (derived from the target
            # schema), so the batch after the switch LSN aligns
            self.target.drop_column(**change.args)
        else:
            raise ValueError(f"unknown schema change action {change.action!r}")

    @property
    def binlog_renames(self) -> dict[str, str]:
        """Old binlog column -> current target column (``rename_map``)."""
        return rename_map(self.target)

    def apply_batch(self, off: Offset, to_lsn: int,
                    on_batch: Callable[["BatchMetrics"], Any] | None = None,
                    ) -> BatchMetrics:
        """Normalize → dedup → MERGE one LSN interval ``(off.pos, to_lsn]``.

        Job economy (matters at micro-batch cadence): every Spark job a
        batch submits runs inside ``merge_changes`` — the bucket probe
        and the write on a copy-on-write target, the delta write alone
        on a merge-on-read one.  The deduplicated change set is
        materialized by the MERGE itself (which caches it where it reads
        it more than once); the batch's stats (events read, keys applied,
        max LSN, watermark) ride on ``Observation``s of that same plan,
        so they cost no job.  The keys, max LSN and watermark join the
        offset's running counters, written with the new position in the
        one checkpoint write.  A replay whose MERGE is skipped by its
        batch id (the crash left the lake one batch ahead) recomputes
        them with one aggregate job, so the batch counts exactly once.

        ``on_batch`` runs *after* the merge commits but *before* the
        checkpoint write: a crash (or hook failure) between the two
        replays the batch on restart — the merge dedup-skips on its
        batch id and the hook fires again, so hook delivery is
        at-least-once; an idempotent hook (FeedPublisher publishes only
        past its ``published_to`` frontier) makes it exactly-once.
        Running the hook after the checkpoint instead would open a
        window where a crash loses the hook's side effect permanently
        (the batch never replays).
        """
        from pyspark.sql import Observation

        raw = self.binlog.read_range(off.commit_lsn, to_lsn)
        raw = after_position(raw, off.commit_lsn, off.intent_seq)  # F2/F3
        if self.registry is not None:
            from debezium_connector_db2_spark.operators.filters import (
                stop_lsn_filter,
            )

            raw = stop_lsn_filter(raw, self.registry.to_df(self.spark))  # F4
        flat = normalize_changes(raw, self.table, self.target)
        if self.payload_transform is not None:
            flat = self.payload_transform(flat)          # F7 SMT slot
        read = Observation()
        flat = flat.observe(read, F.count(F.lit(1)).alias("events"))
        kept = Observation()
        stat_cols = (F.count(F.lit(1)).alias("keys"),
                     F.max("commit_lsn").alias("max_lsn"),
                     F.unix_micros(F.max("ts")).alias("watermark"))
        changes = latest_per_key(
            flat, self.pk_cols, ("commit_lsn", "intent_seq"),
        ).observe(kept, *stat_cols)
        epoch = off.epoch + 1
        batch_id = f"cdc-{self.table}-{off.commit_lsn}-{off.intent_seq}-{to_lsn}"
        n_events = n_keys = 0
        applied = self.target.merge_changes(
            changes, self.pk_cols, op_col="op", delete_op="d",
            batch_id=batch_id,
            summary={"operation": "merge", "epoch": epoch,
                     "from_lsn": off.commit_lsn, "to_lsn": to_lsn},
        )
        if applied:  # otherwise no action ran; Observation.get would block
            n_events = read.get["events"]
            stats = kept.get
            n_keys = stats["keys"]
        else:  # identical replay: the crash lost the counters, not the MERGE
            stats = changes.agg(*stat_cols).first().asDict()
        if stats["keys"]:
            off = replace(
                off, events_applied=off.events_applied + stats["keys"],
                max_applied_lsn=_max(off.max_applied_lsn, stats["max_lsn"]),
                watermark=_max(off.watermark, stats["watermark"]),
                last_epoch=_max(off.last_epoch, epoch))

        m = BatchMetrics(epoch, off.commit_lsn, to_lsn, n_events, n_keys,
                         applied)
        if on_batch is not None:
            on_batch(m)  # pre-checkpoint: crash here -> batch replays
        self.checkpoint.write(replace(off, commit_lsn=to_lsn, intent_seq=2**62,
                                      epoch=epoch, last_batch_id=batch_id))
        return m

    def metrics(self) -> dict:
        """A5 monitoring summary — the reference's CAPMON counters (rows
        processed, position, last activity) as one dict, read off the
        checkpoint that ``apply_batch`` advances them in.  No Spark job;
        the cost does not grow with the number of batches.  A fresh
        engine reports zeros.  ``watermark`` is a ``datetime``, as a
        collected timestamp column renders it."""
        off = self.checkpoint.read()
        return {
            "events_applied": off.events_applied,
            "max_applied_lsn": off.max_applied_lsn,
            "watermark": T.TimestampType().fromInternal(off.watermark),
            "last_epoch": off.last_epoch,
            "checkpoint_lsn": off.commit_lsn,
            "epoch": off.epoch,
            "snapshot_completed": off.snapshot_completed,
            "paused": self.paused(),
        }

    def timestamp_of_lsn(self, commit_lsn: int):
        """S9: commit LSN -> wall-clock instant (the reference's UOW
        lookup with an LRU cache, ``Db2Connection.java:240-263``).  Our
        events carry ``ts`` inline, so this is a pruned min() probe;
        cached driver-side."""
        if not hasattr(self, "_lsn_ts_cache"):
            from collections import OrderedDict

            self._lsn_ts_cache = OrderedDict()
        if commit_lsn in self._lsn_ts_cache:
            self._lsn_ts_cache.move_to_end(commit_lsn)  # LRU touch
            return self._lsn_ts_cache[commit_lsn]
        row = (
            self.binlog.read_range(commit_lsn, commit_lsn)
            .agg(F.min("ts").alias("t")).collect()[0]
        )
        while len(self._lsn_ts_cache) >= 100:   # bounded like the
            self._lsn_ts_cache.popitem(last=False)  # reference, true LRU
        self._lsn_ts_cache[commit_lsn] = row["t"]
        return row["t"]

    def maintain(self, compact_threshold: int = 4,
                 expire_keep_last: int = 64,
                 prune_source: bool = False) -> dict:
        """Background table maintenance between micro-batches: compact
        multi-file buckets, vacuum tombstones the checkpoint has passed
        (no older batch can arrive → safe), expire old snapshots.  The
        operational housekeeping a long-running 10^10-event ingest needs;
        each piece is its own commit, so a crash mid-maintenance loses
        nothing.

        ``prune_source=True`` additionally drops fully-consumed binlog
        buckets below this engine's checkpoint (the reference's capture
        prune cycle, ``asncdc.c``).  ONLY safe when this engine is the
        binlog's sole consumer — for a shared multi-table binlog use
        ``MultiFeedPublisher.prune_binlog`` (min frontier across
        engines) instead."""
        off = self.checkpoint.read()
        compacted = self.target.compact(max_files_per_bucket=compact_threshold)
        vacuumed = self.target.vacuum_tombstones(before_lsn=off.commit_lsn)
        stats = self.target.expire_snapshots(keep_last=expire_keep_last)
        stats["compacted_buckets"] = compacted
        stats["vacuumed_buckets"] = vacuumed
        if prune_source:
            stats["pruned_binlog_buckets"] = self.binlog.prune(
                off.commit_lsn)
        return stats

    # -- event-feed export (the S11 Kafka-topic analogue) --------------------

    def record_key_columns(self) -> list[str]:
        """Record-key columns for this table: the PK, unless a
        ``message.key.columns`` entry's regex matches the qualified
        table name (``schema.table``) and rewrites it
        (``Db2ConnectorIT.java:790-820`` ``shouldRewriteIdentityKey``)."""
        from debezium_connector_db2_spark.functions.envelope import (
            key_columns_for,
        )

        return key_columns_for(
            self.message_key_columns,
            f"{self.schema_name}.{self.table}", self.pk_cols)

    def export_events(self, from_lsn: int, to_lsn: int,
                      tombstones: bool = True,
                      transaction_markers: bool = False,
                      with_key: bool = False) -> DataFrame:
        """Canonical change-event feed for an LSN interval: the full
        classify+pair path (J3/J4) producing c/u/d/r envelopes with
        before/after images — what the reference publishes per-table to
        Kafka.  ``tombstones=True`` adds a null-payload tombstone row
        after every delete (op='t'), enabling downstream log compaction
        (``Db2ConnectorIT.java:211-215``; off mirrors
        ``tombstones.on.delete=false``).

        ``transaction_markers=True`` interleaves ordered per-transaction
        BEGIN/END records in the feed (op='begin'/'end'; END carries the
        transaction's data-event count) — the reference's
        ``provide.transaction.metadata`` stream, asserted by
        ``TransactionMetadataIT.java:64-119``.  BEGIN sorts before and END
        after every data row of its commit_lsn (intent_seq -1 / 2^62).

        ``with_key=True`` adds a ``key`` struct of the PK columns (the
        Kafka record key) — present on tombstone rows too, whose payloads
        are null: a tombstone is key + null value."""
        payload_cols = self.payload_cols()
        raw = table_rows(self.binlog.read_range(from_lsn, to_lsn),
                         self.table, self.target)
        events = to_change_events(raw, self.pk_cols, payload_cols)
        if with_key:
            key_cols = self.record_key_columns()
            missing = [c for c in key_cols if c not in payload_cols]
            if missing:
                raise ValueError(
                    f"message.key.columns names {missing} not in the "
                    f"payload columns of table {self.table!r}")
            events = events.withColumn(
                "key",
                F.struct(*[
                    F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}"))
                    .alias(c) for c in key_cols
                ]),
            )
        key_cols = ["key"] if with_key else []
        feed = events
        if tombstones:
            null_payload = F.lit(None).cast(events.schema["after"].dataType)
            dup = F.when(
                F.col("op") == "d",
                F.array(
                    F.struct(F.col("op"), F.col("before"), F.col("after")),
                    F.struct(F.lit("t").alias("op"),
                             null_payload.alias("before"),
                             null_payload.alias("after")),
                ),
            ).otherwise(F.array(F.struct(F.col("op"), F.col("before"), F.col("after"))))
            feed = (
                events.select("commit_lsn", "intent_seq", "table", "schema_version",
                              *key_cols, F.posexplode(dup).alias("pos", "e"))
                .select("commit_lsn",
                        (F.col("intent_seq") * 2 + F.col("pos")).alias("intent_seq"),
                        F.col("e.op").alias("op"), "table", "schema_version",
                        *key_cols,
                        F.col("e.before").alias("before"),
                        F.col("e.after").alias("after"))
            )
        if not transaction_markers:
            return feed
        # per-tx BEGIN/END, counting *data* events (tombstones excluded,
        # as the reference counts dispatched change events)
        data = feed.where(F.col("op") != "t")
        feed = feed.withColumn("event_count", F.lit(None).cast("long"))
        per_tx = data.groupBy("commit_lsn").agg(
            F.count(F.lit(1)).alias("event_count"))
        null_payload = F.lit(None).cast(events.schema["after"].dataType)

        def marker(op: str, seq: int, count):
            cols = [
                F.col("commit_lsn"),
                F.lit(seq).cast("long").alias("intent_seq"),
                F.lit(op).alias("op"),
                F.lit(None).cast("string").alias("table"),
                F.lit(None).cast("int").alias("schema_version"),
            ]
            if with_key:
                cols.append(F.lit(None).cast(
                    feed.schema["key"].dataType).alias("key"))
            cols += [null_payload.alias("before"),
                     null_payload.alias("after"),
                     count.alias("event_count")]
            return per_tx.select(*cols)

        begin = marker("begin", -1, F.lit(None).cast("long"))
        end = marker("end", 2 ** 62, F.col("event_count"))
        return feed.unionByName(begin).unionByName(end)

    def export_envelope(self, from_lsn: int, to_lsn: int,
                        tombstones: bool = True,
                        server_name: str = "cdc-engine",
                        db: str = "testdb",
                        schema_name: str | None = None,
                        transaction_block: bool = False,
                        mark_last_snapshot: bool = False) -> DataFrame:
        """S11 as full Debezium records: (table, commit_lsn, intent_seq,
        key, envelope) where ``envelope`` is ``{before, after, source,
        op, ts_ms}`` with the golden nested source struct
        (``Db2SourceInfoStructMaker.java:19-51``, field set/order asserted
        by ``SourceInfoTest.java:86-104``) and ``key`` is the PK struct
        (the Kafka record key).  Tombstone rows carry key + NULL envelope
        — the log-compaction contract (``Db2ConnectorIT.java:211-215``).
        ``transaction_block=True`` adds the per-record ``transaction``
        struct (``provide.transaction.metadata``,
        ``TransactionMetadataIT.java:110-117``).

        ``mark_last_snapshot=True`` probes the interval for the last
        snapshot-read record (one bounded max aggregate — a scalar to
        the driver, not data) and renders its ``source.snapshot`` as
        ``'last'`` (SnapshotRecord.LAST — consumers detect snapshot
        completion by it).

        When the engine was built with ``source_column_types`` +
        ``datatype_propagate_source_type``, records carry a constant
        ``source_types`` parameter-map column
        (``datatype.propagate.source.type``,
        ``Db2ConnectorIT.java:822-871``)."""
        from debezium_connector_db2_spark import __version__
        from debezium_connector_db2_spark.functions.envelope import (
            source_type_parameters,
            wrap_envelope,
        )

        schema_name = schema_name if schema_name is not None else self.schema_name
        feed = self.export_events(from_lsn, to_lsn, tombstones=tombstones,
                                  with_key=True)
        last_pos = None
        if mark_last_snapshot:
            row = (feed.where(F.col("op") == "r")
                   .agg(F.max(F.struct("commit_lsn", "intent_seq"))
                        .alias("p")).collect()[0]["p"])
            if row is not None:
                last_pos = (row["commit_lsn"], row["intent_seq"])
        return wrap_envelope(
            feed, version=__version__, name=server_name, db=db,
            schema_name=schema_name, key_col="key",
            transaction_block=transaction_block,
            last_snapshot_pos=last_pos,
            source_types=source_type_parameters(
                self.source_column_types,
                self.datatype_propagate_source_type,
                f"{schema_name}.{self.table}",
                column_propagate=self.column_propagate_source_type,
            ) or None,
        )

    def export_events_cloudevents(self, from_lsn: int, to_lsn: int,
                                  source_name: str = "cdc-engine") -> DataFrame:
        """S11 variant: the event feed as CloudEvents 1.0 JSON strings
        (the reference's CloudEventsConverter output,
        ``Db2ConnectorIT.java:874-909``)."""
        ev = self.export_events(from_lsn, to_lsn, tombstones=False)
        payload = F.to_json(F.struct("before", "after", "op",
                                     "commit_lsn", "intent_seq"))
        envelope = F.to_json(F.struct(
            F.lit("1.0").alias("specversion"),
            F.concat(F.lit(f"{source_name}:"), F.col("commit_lsn").cast("string"),
                     F.lit(":"), F.col("intent_seq").cast("string")).alias("id"),
            F.lit(f"/debezium/db2spark/{source_name}").alias("source"),
            F.concat(F.lit("io.debezium.db2spark."), F.col("table"),
                     F.lit(".ChangeEvent")).alias("type"),
            F.lit("application/json").alias("datacontenttype"),
            payload.alias("data"),
        ))
        return ev.select("commit_lsn", "intent_seq", "table",
                         envelope.alias("cloudevent"))

    def transaction_metadata(self, from_lsn: int, to_lsn: int) -> DataFrame:
        """A3: per-transaction BEGIN/END metadata — total event count and
        per-table counts, tx id = commit LSN
        (``Db2EventMetadataProvider.java:49-58``,
        ``TransactionMetadataIT.java:98-117``)."""
        raw = self.binlog.read_range(from_lsn, to_lsn)
        per_table = raw.groupBy("commit_lsn", "table").agg(
            F.count(F.lit(1)).alias("table_event_count"))
        totals = raw.groupBy("commit_lsn").agg(
            F.count(F.lit(1)).alias("event_count"),
            F.min("intent_seq").alias("begin_seq"),
            F.max("intent_seq").alias("end_seq"))
        return totals.join(per_table, "commit_lsn").select(
            F.col("commit_lsn").alias("tx_id"), "event_count",
            "begin_seq", "end_seq", "table", "table_event_count")

    def _switches(self, lo: int, hi: int) -> list[SchemaChange]:
        """Schema changes taking effect in ``(lo, hi]``, in LSN order: the
        configured ones plus those the registry's new capture instances of
        this table carry (S8; the reference rebuilds its schema checkpoints
        from the registry, ``Db2StreamingChangeEventSource.java:165-174,
        350-412``)."""
        out = [c for c in self.schema_changes if lo < c.effective_lsn <= hi]
        if self.registry is not None:
            out += [SchemaChange(e["start_lsn"], e["schema_change"]["action"],
                                 e["schema_change"]["args"])
                    for e in self.registry.new_instances_in(lo, hi)
                    if e.get("schema_change") and e["table"] == self.table]
        return sorted(out, key=lambda c: c.effective_lsn)

    def run_available(
        self,
        on_batch: Callable[[BatchMetrics], Any] | None = None,
    ) -> list[BatchMetrics]:
        """Drain the binlog to its current end in bounded micro-batches.

        ``availableNow`` semantics (T1/T2).  Each iteration plans one
        interval ``(lo, hi]`` and applies it through ``apply_batch``:
        a batch never crosses a schema switch, and a switch's DDL runs
        once the checkpoint sits at ``effective_lsn - 1`` (on a replay
        too: DDL is idempotent).  ``on_batch`` is ``apply_batch``'s
        pre-checkpoint hook.
        """
        if self._streaming_disabled:
            return []  # snapshot mode 'initial_only'
        out: list[BatchMetrics] = []
        prev_empty = False
        while True:
            # signals first — control actions interleave with batches (T7/T8)
            self.process_signals()
            if self.paused():
                break
            off = self.checkpoint.read()
            hi = self.binlog.max_lsn()
            if hi is None or hi <= off.commit_lsn:
                break  # T9: nothing new — idle heartbeat
            lo = off.commit_lsn
            switches = self._switches(lo, hi)
            if self.max_lsns_per_batch is not None and prev_empty:
                # fast-forward over an LSN gap so bounded batches don't
                # crawl empty ranges (reference idle sleep T9, for holes),
                # but never past a pending switch.  Probed only after an
                # empty batch — contiguous logs never pay for it.
                nxt = self.binlog.min_lsn_after(lo)
                if nxt is None:
                    break
                if switches:
                    nxt = min(nxt, switches[0].effective_lsn)
                if nxt - 1 > lo:
                    lo = nxt - 1
                    off = replace(off, commit_lsn=lo, intent_seq=-1)
            # LSN-ordered schema checkpoints: run the switches due at
            # lo + 1, end the batch before the next one
            for sw in switches:
                if sw.effective_lsn > lo + 1:
                    hi = min(hi, sw.effective_lsn - 1)  # stop before it
                    break
                self._apply_ddl(sw)
            if self.max_lsns_per_batch is not None:
                hi = min(hi, lo + self.max_lsns_per_batch)

            m = self.apply_batch(off, hi, on_batch=on_batch)
            prev_empty = m.events == 0
            out.append(m)
            if self.auto_compact_files is not None and m.events > 0:
                # auto-compaction between micro-batches: no-op (one
                # manifest read) until some bucket crosses the file
                # threshold; its own commit, so a crash mid-compaction
                # loses nothing and replays nothing
                self.target.compact(
                    max_files_per_bucket=self.auto_compact_files)
        return out


def export_envelope_multi(
    engines: dict[str, "CdcEngine"], from_lsn: int, to_lsn: int,
    tombstones: bool = True, transaction_block: bool = True,
    server_name: str = "cdc-engine", db: str = "testdb",
    schema_name: str = "cdc",
) -> DataFrame:
    """Cross-table transaction-aware envelope feed.

    Per-table engines each see only their own slice of a transaction; the
    reference's transaction block counts across ALL tables of the commit
    (``TransactionMetadataIT.java:104-117``: counter 1..2N over two
    tables, per-table counter (c+1)/2).  This helper unions the tables'
    feeds *before* wrapping, so ``total_order`` spans the commit and
    ``data_collection_order`` stays per table.  Requires the tables to
    share a payload schema (true for the shared-binlog multi-table setup,
    S4); the engines must share a binlog position space.
    """
    from debezium_connector_db2_spark import __version__
    from debezium_connector_db2_spark.functions.envelope import wrap_envelope

    feed = None
    for eng in engines.values():
        part = eng.export_events(from_lsn, to_lsn, tombstones=tombstones,
                                 with_key=True)
        feed = part if feed is None else feed.unionByName(part)
    if feed is None:
        raise ValueError("export_envelope_multi: no engines given")
    return wrap_envelope(
        feed, version=__version__, name=server_name, db=db,
        schema_name=schema_name, key_col="key",
        transaction_block=transaction_block,
    )


def run_all_with_repair(
    engines: dict[str, "CdcEngine"],
    registry=None,
    notifications=None,
) -> dict[str, Any]:
    """T10 error-driven capture repair across a set of per-table engines.

    The reference prunes a capture instance whose table vanished (or whose
    CDC function errors) from its query set on SQLException and keeps
    streaming the rest (``Db2StreamingChangeEventSource.java:298-300,
    338-348``).  Here each table is its own engine over its capture feed;
    a failing table is deregistered from the shared registry, surfaced on
    the notification channel, and the remaining tables complete.  Returns
    ``{table: [BatchMetrics]}`` for healthy tables and ``{table:
    Exception}`` for repaired ones.
    """
    results: dict[str, Any] = {}
    for table, eng in engines.items():
        try:
            results[table] = eng.run_available()
        except Exception as e:  # noqa: BLE001 — repair-and-continue path
            if registry is not None:
                try:
                    registry.deregister_table(table)
                except ValueError:
                    pass  # not registered — nothing to prune
            if notifications is not None:
                notifications.emit(
                    "Capture Repair", "DEREGISTERED",
                    {"table": table, "error": str(e)[:500]})
            _log.warning(
                "capture feed for %r failed (%s); deregistered, continuing "
                "with remaining tables", table, type(e).__name__)
            results[table] = e
    return results
