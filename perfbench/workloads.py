"""The CDC benchmark workloads: tail and stream.

Both have the same shape:

1. an untimed warm-up pass of the whole workload at a tenth of the run
   length, then the set-up, repeated ``REPS`` times (the median is
   ``setup_s``): generate the seed's inputs and write them through the
   program (the binlog files and a pinned snapshot source);
2. the measured phase: snapshots of fresh MoR tables (timed:
   ``snapshot_s``), a drain of the whole binlog (the open loop on
   ``tail``, ``StreamingCdc`` on ``stream``) and full reads through the
   noop sink (timed: ``read_s``).  Every timing is a median of three or
   more samples.  Spans are recorded, when tracing is on, during the
   snapshots and drains only;
3. the oracle check of every drained table against ``oracle_final_state``.

Every size follows from the run length, ``seconds``.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce
from statistics import median

from pyspark.sql import DataFrame, functions as F

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import PK_COLS, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.sources.generator import (
    generate_binlog,
    generate_snapshot,
    oracle_final_state,
)
from debezium_connector_db2_spark.streaming.engine import CdcEngine
from debezium_connector_db2_spark.streaming.stream import StreamingCdc

#: samples per run of each timing (set-ups, snapshots, reads; rounds on
#: ``stream``); each end-to-end timing is their median
REPS = 3
AVG_TX = 8
ZIPF_S = 2.0
#: lake-table hash buckets and binlog LSN buckets (the binlog's files)
N_BUCKETS = 8
BINLOG_BUCKETS = 64

#: tail: conversations in the MoR table per second of run length (20
#: turns each, half filled -> 10 rows per conversation), ops per slice,
#: seconds between slices (2,000 ops/s offered; a run of 8 s publishes
#: 100 slices, one lag sample each), the auto-compaction file threshold
#: (1: every batch touches every bucket, so every batch is followed by
#: the same compaction and the batch cycles are alike), full reads of the
#: final table
TAIL_CONVS_PER_S = 750
TAIL_SLICE_OPS = 160
TAIL_INTERVAL_S = 0.08
TAIL_COMPACT_FILES = 1
TAIL_READS = 9
#: stream: logical ops per second of run length, files per trigger,
#: snapshots per run (the snapshot is of about 1.4k rows and takes about
#: 0.35 s, mostly fixed cost, so a median of three moved with single
#: slow samples)
STREAM_OPS_PER_S = 3_500
STREAM_FILES_PER_TRIGGER = 16
STREAM_SNAPSHOTS = 9


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    #: run length; the warm-up pass runs at a tenth of it
    seconds: float
    tracer: object
    #: the warm-up pass: one set-up and one round, no oracle check, and on
    #: ``stream`` a quarter of the triggers
    warmup: bool = False
    #: optional ``corrupt(table)`` run before the oracle check (self-test)
    corrupt: object = None
    #: optional toy-size pass of the same workload, run before set-up
    warm: object = None
    warmup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def reps(self, n: int) -> int:
        return 1 if self.warmup else n

    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation and whether it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _quantile(samples: list[tuple[float, int]], q: float) -> float:
    """Weighted quantile of (value, weight) samples."""
    samples = sorted(samples)
    total = sum(w for _, w in samples)
    acc = 0
    for v, w in samples:
        acc += w
        if acc >= q * total:
            return v
    return samples[-1][0]


def check_tables(tables: list[LakeTable], snapshot: DataFrame,
                 binlog: DataFrame) -> list[bool]:
    """Does each table's state equal the closed-form oracle?  The oracle
    and every table are reduced, in one Spark query, to a row count plus
    an order-free 64-bit multiset hash of every column."""
    want = oracle_final_state(snapshot, binlog)
    cols = sorted(want.columns)
    sides = [want] + [t.read() for t in tables]
    both = reduce(DataFrame.unionByName, [
        df.select(*cols).withColumn("__side", F.lit(i))
        for i, df in enumerate(sides)])
    h = F.xxhash64(*[F.col(c) for c in cols])
    rows = both.groupBy("__side").agg(
        F.count(F.lit(1)), F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
        F.sum(F.shiftrightunsigned(h, 32))).collect()
    fp = {r[0]: tuple(r[1:]) for r in rows}
    return [fp.get(i) == fp.get(0) for i in range(1, len(sides))]


def _timed(fn):
    """Seconds ``fn()`` took, and its result."""
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _setup(ctx: Ctx, make) -> tuple[float, dict]:
    """Run the warm-up pass, then set up ``REPS`` times into fresh
    directories, keeping only the last inputs: the median set-up time and
    those inputs.  The warm-up goes first so that the cold JVM is paid
    for at toy size, not by a full-size set-up."""
    if ctx.warm is not None:
        ctx.warmup_s, _ = _timed(ctx.warm)
    times = []
    for i in range(ctx.reps(REPS)):
        if i:
            shutil.rmtree(ctx.path(f"setup{i - 1}"))
        secs, inputs = _timed(lambda: make(ctx.path(f"setup{i}")))
        times.append(secs)
    return median(times), inputs


def _snapshots(ctx: Ctx, n: int, fresh, load) -> tuple[float, list]:
    """Snapshot ``n`` fresh targets (``fresh(i)`` makes one, ``load(x)``
    snapshots into it): the median snapshot time and the targets."""
    times, targets = [], []
    for i in range(ctx.reps(n)):
        x = fresh(i)
        with ctx.tracer.record(), ctx.tracer.span("bench.snapshot"):
            secs, _ = _timed(lambda: load(x))
        times.append(secs)
        targets.append(x)
    return median(times), targets


def _snapshot_source(spark, path: str, seed: int, n_convs: int):
    """Generated snapshot rows, and the same rows pinned as parquet."""
    gen = generate_snapshot(spark, n_convs=n_convs, turns_per_conv=20,
                            seed=seed)
    gen.write.parquet(path)
    return gen, spark.read.parquet(path)


def _create(spark, path: str) -> LakeTable:
    return LakeTable.create(spark, path, TRANSCRIPT_SCHEMA,
                            bucket_by="conv_id", n_buckets=N_BUCKETS,
                            versioned=True, merge_mode="mor",
                            key_cols=list(PK_COLS))


def _merged_bytes(t: LakeTable, v0: int) -> int:
    """Bytes of the data files the table's merge commits after version
    ``v0`` added.  Compaction rewrites are left out: how many fall inside
    a run depends on timing, and they have their own per-layer figures."""
    def paths(m):
        return {f["path"] for fs in m["files"].values() for f in fs}

    prev, total = paths(t.manifest(v0)), 0
    for v in range(v0 + 1, t.current_version() + 1):
        m = t.manifest(v)
        cur = paths(m)
        if m["summary"].get("operation") != "compact":
            total += sum(os.path.getsize(os.path.join(t.path, p))
                         for p in cur - prev)
        prev = cur
    return total


def _drained(table: LakeTable, v0: int, reads: int = 1,
             compact: bool = False) -> dict:
    """What a drain left in the table (``v0``: its version before), then
    the median of ``reads`` timed full reads, of the table compacted
    first if ``compact``."""
    m = table.manifest()
    r = {"table": table,
         "lake_write_mb": _merged_bytes(table, v0) / 1e6,
         "lake.commits": m["version"] - v0,
         "lake.files": sum(len(v) for v in m["files"].values()),
         "lake.manifest_kb": os.path.getsize(os.path.join(
             table.path, "_manifests", f"v{m['version']}.json")) / 1024}
    if compact:
        table.compact()
    r["read_s"] = median(_timed(
        lambda: table.read().write.format("noop").mode("overwrite").save())[0]
        for _ in range(reads))
    return r


def _finish(ctx: Ctx, out: dict, rounds: list[dict], binlog_dir: str,
            snapshot: DataFrame, binlog: DataFrame) -> dict:
    """Shared end of both workloads: the medians over the rounds (one on
    ``tail``), the last round's table figures, and the oracle check of
    every round's table."""
    for k in ("apply_eps", "lag_p50_s", "lag_p90_s", "read_s",
              "lake_write_mb"):
        out[k] = median(r[k] for r in rounds)
    out["binlog_applied_mb"] = _bytes(binlog_dir) / 1e6
    out["events"] = rounds[-1]["events"]
    out["layer"].update({k: v for k, v in rounds[-1].items()
                         if k.startswith("lake.")})
    if ctx.warmup:
        return out
    tables = [r["table"] for r in rounds]
    if ctx.corrupt is not None:
        ctx.corrupt(tables[-1])
    for t, ok in zip(tables, check_tables(tables, snapshot, binlog)):
        ctx.op(ok, f"oracle mismatch: {t.path}")
    return out


# -- tail -------------------------------------------------------------------

class Publisher(threading.Thread):
    """Open-loop load: moves pre-written binlog slices into the live
    binlog on a fixed schedule, whether or not the engine keeps up."""

    def __init__(self, slices: list[str], live: str, t0: float,
                 interval: float):
        super().__init__(name="binlog-publisher", daemon=True)
        self.slices, self.live = slices, live
        self.t0, self.interval = t0, interval
        self.late: list[float] = []
        self.stop = threading.Event()
        self.error: BaseException | None = None

    def due(self, i: int) -> float:
        return self.t0 + i * self.interval

    def run(self) -> None:
        try:
            for i, src in enumerate(self.slices):
                wait = self.due(i) - time.perf_counter()
                if wait > 0 and self.stop.wait(wait):
                    return
                os.rename(src, os.path.join(self.live, os.path.basename(src)))
                self.late.append(time.perf_counter() - self.due(i))
        except BaseException as e:  # re-raised by the main thread
            self.error = e


def tail(ctx: Ctx) -> dict:
    """Open loop over a versioned merge-on-read table: for ``seconds`` a
    publisher thread adds one binlog slice every TAIL_INTERVAL_S while the
    engine loops ``run_available`` with auto-compaction on.  One long loop
    rather than several short ones: the lag quantiles then pool many
    batches, not a start and an end transient."""
    spark, tr = ctx.spark, ctx.tracer
    n_convs = max(int(TAIL_CONVS_PER_S * ctx.seconds), 50)
    n_slices = max(round(ctx.seconds / TAIL_INTERVAL_S), 3)
    bucket = TAIL_SLICE_OPS // AVG_TX       # one slice = one LSN bucket
    slice_hi = [(i + 2) * bucket - 1 for i in range(n_slices)]

    def make(d):
        # LSNs start one bucket in, so slice i is exactly bucket i + 1
        log = generate_binlog(spark, n_ops=n_slices * TAIL_SLICE_OPS,
                              n_convs=n_convs, seed=ctx.seed,
                              avg_tx_size=AVG_TX, zipf_s=ZIPF_S,
                              lsn_offset=bucket - 1)
        BinlogSource(spark, os.path.join(d, "staged"),
                     bucket_size=bucket).write(log)
        snap = _snapshot_source(spark, os.path.join(d, "snap"),
                                ctx.seed + 1, n_convs)
        return dict(dir=d, log=log, snap=snap)

    setup_s, inp = _setup(ctx, make)
    d = inp["dir"]
    live = os.path.join(d, "binlog")
    os.makedirs(live)
    src = BinlogSource(spark, live, bucket_size=bucket)
    # only the last snapshotted table is drained
    snapshot_s, engines = _snapshots(
        ctx, REPS,
        lambda i: CdcEngine(spark, src,
                            _create(spark, os.path.join(d, f"table{i}")),
                            os.path.join(d, f"ckpt{i}"),
                            auto_compact_files=TAIL_COMPACT_FILES),
        lambda e: e.snapshot_load(inp["snap"][1]))
    eng = engines[-1]
    v0 = eng.target.current_version()
    commits: list[tuple[float, int, int]] = []

    def on_batch(m):
        commits.append((time.perf_counter(), m.to_lsn, m.events))

    pub = Publisher([os.path.join(d, "staged", f"lsn_bucket={k + 1}")
                     for k in range(n_slices)],
                    live, time.perf_counter() + TAIL_INTERVAL_S,
                    TAIL_INTERVAL_S)
    deadline = pub.due(n_slices) + 60
    pub.start()
    try:
        with tr.record(), tr.span("bench.drain"):
            t_start = time.perf_counter()
            while not commits or commits[-1][1] < slice_hi[-1]:
                if pub.error is not None:
                    raise pub.error
                if time.perf_counter() > deadline:
                    raise TimeoutError("tail did not catch up")
                if not eng.run_available(on_batch=on_batch):
                    with tr.span("bench.idle"):
                        time.sleep(0.005)
    finally:
        pub.stop.set()
        pub.join(timeout=30)
    ctx.attempted += len(commits)
    lags = [(next(t for t, lsn, _ in commits if lsn >= hi) - pub.due(k), 1)
            for k, hi in enumerate(slice_hi)]
    events = sum(e for _, _, e in commits)
    r = dict(events=events, apply_eps=events / (commits[-1][0] - t_start),
             lag_p50_s=_quantile(lags, 0.5),
             lag_p90_s=_quantile(lags, 0.9))
    # the loop ends with 0 to TAIL_COMPACT_FILES - 1 deltas per bucket,
    # depending on timing: the read is of the table compacted to one file
    # per bucket, so that it does not vary with where the loop stopped
    r.update(_drained(eng.target, v0, reads=ctx.reps(TAIL_READS),
                      compact=True))
    out = {"setup_s": setup_s, "snapshot_s": snapshot_s, "layer": {
        "gen.publish_late_p90_s": _quantile([(x, 1) for x in pub.late], 0.9)}}
    return _finish(ctx, out, [r], live, inp["snap"][0], inp["log"])


# -- stream -----------------------------------------------------------------

def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def stream(ctx: Ctx) -> dict:
    """``StreamingCdc`` drains a single-table backlog into a versioned MoR
    table with a fixed maxFilesPerTrigger; the table is then read in
    full."""
    spark, tr = ctx.spark, ctx.tracer
    n_ops = max(int(STREAM_OPS_PER_S * ctx.seconds), 2_000)
    n_convs = max(n_ops // 200, 20)

    def make(d):
        log = generate_binlog(spark, n_ops=n_ops, n_convs=n_convs,
                              seed=ctx.seed, avg_tx_size=AVG_TX,
                              zipf_s=ZIPF_S)
        n_lsns = (n_ops - 1) // AVG_TX + 1      # commit LSNs are 1..n_lsns
        src = BinlogSource(spark, os.path.join(d, "binlog"),
                           bucket_size=-(-n_lsns // BINLOG_BUCKETS))
        src.write(log)
        snap = _snapshot_source(spark, os.path.join(d, "snap"),
                                ctx.seed + 1, n_convs)
        return dict(dir=d, log=log, snap=snap, src=src)

    setup_s, inp = _setup(ctx, make)
    # the last REPS snapshotted tables are drained, one per round
    snapshot_s, tables = _snapshots(
        ctx, STREAM_SNAPSHOTS,
        lambda i: _create(spark, os.path.join(inp["dir"], f"table{i}")),
        lambda t: t.overwrite(inp["snap"][1], batch_id="snapshot"))
    out = {"setup_s": setup_s, "snapshot_s": snapshot_s, "layer": {}}
    progress: list[dict] = []

    def one_round(i, table):
        d = os.path.join(inp["dir"], f"round{i}")
        v0 = table.current_version()
        sc = StreamingCdc(spark, inp["src"].path, table,
                          os.path.join(d, "ckpt"),
                          max_files_per_trigger=STREAM_FILES_PER_TRIGGER
                          * (4 if ctx.warmup else 1))
        with tr.record(), tr.span("bench.drain"):
            wall0, t_start = time.time(), time.perf_counter()
            q = sc.start(available_now=True)
            q.awaitTermination()
            secs = time.perf_counter() - t_start
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ctx.attempted += len(prog)
        progress.extend(prog)
        lags = [(_epoch(p["timestamp"]) - wall0
                 + p["durationMs"]["triggerExecution"] / 1e3,
                 p["numInputRows"]) for p in prog]
        events = sum(p["numInputRows"] for p in prog)
        r = dict(events=events, drain_s=secs, apply_eps=events / secs,
                 lag_p50_s=_quantile(lags, 0.5),
                 lag_p90_s=_quantile(lags, 0.9))
        r.update(_drained(table, v0))
        return r

    rounds = [one_round(i, t)
              for i, t in enumerate(tables[-ctx.reps(REPS):])]
    dur = [p["durationMs"] for p in progress]
    trigger_s = sum(x.get("triggerExecution", 0) for x in dur) / 1e3
    out["layer"].update({
        # the streaming frontend's spans run on Spark's own thread, so
        # coverage is the share of the drains its triggers account for
        "trace.coverage": trigger_s / sum(r["drain_s"] for r in rounds),
        "stream.triggers": len(progress),
        "stream.trigger_s": trigger_s,
        "stream.add_batch_s": sum(x.get("addBatch", 0) for x in dur) / 1e3,
        "stream.latest_offset_s": sum(x.get("latestOffset", 0) for x in dur) / 1e3,
        "stream.wal_commit_s": sum(x.get("walCommit", 0) for x in dur) / 1e3,
    })
    return _finish(ctx, out, rounds, inp["src"].path, inp["snap"][0],
                   inp["log"])


WORKLOADS = {"tail": tail, "stream": stream}
