"""BinlogSource probes and range reads: correctness across LSN gaps, the
empty cases, and a job count that does not grow with the log — every
probe reads the one or two bucket directories it needs, never a listing
of the whole log (``Db2StreamingChangeEventSource`` idles through empty
intervals; we skip them)."""

import datetime
import os

import pytest

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import BINLOG_SCHEMA, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.streaming.engine import CdcEngine

from tests.conftest import jobs_in_group

TS = datetime.datetime(2026, 1, 1)


def _row(lsn, seq, op, conv, turn, text):
    return (lsn, seq, op, "transcripts", 0, conv, turn, "user", text, None, TS)


def _jobs(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(jobs_in_group(sc, group))


def _gapped_log(spark, tmpdir_path):
    # buckets (size 10): 0 [lsn 5], 50 [lsn 500..501], 90 [lsn 900]
    rows = [_row(5, 0, "I", "a", 0, "x"),
            _row(500, 0, "I", "a", 1, "y"),
            _row(501, 0, "I", "a", 2, "y2"),
            _row(900, 0, "I", "a", 3, "z")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=10)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    return src


def test_min_lsn_after_gap_and_job_bound(spark, tmpdir_path):
    src = _gapped_log(spark, tmpdir_path)

    # crossing the 45-bucket hole costs no more jobs than a hit in the
    # position's own bucket: both are one query over two buckets
    across, n_across = _jobs(spark, "after-gap", lambda: src.min_lsn_after(5))
    assert across == 500
    within, n_within = _jobs(spark, "after-own", lambda: src.min_lsn_after(500))
    assert within == 501
    assert n_across == n_within, (n_across, n_within)

    assert src.min_lsn_after(501) == 900
    assert src.min_lsn_after(900) is None
    assert src.min_lsn_after(0) == 5


def test_probe_jobs_do_not_grow_with_the_log(spark, tmpdir_path):
    """Past 32 bucket directories Spark lists a directory with a job of
    its own; a probe or range read must not pay that on a long log."""
    rows = [_row(lsn, 0, "I", "a", lsn, f"t{lsn}") for lsn in range(1, 501)]
    df = spark.createDataFrame(rows, BINLOG_SCHEMA)
    probes = {
        "max_lsn": lambda s: s.max_lsn(),
        "min_lsn": lambda s: s.min_lsn(),
        "min_lsn_after": lambda s: s.min_lsn_after(250),
        "read_range": lambda s: s.read_range(240, 260).count(),
    }
    got = {}
    for size in (1000, 10):   # one bucket; 51 buckets
        src = BinlogSource(spark, os.path.join(tmpdir_path, f"bl{size}"),
                           bucket_size=size)
        src.write(df)
        got[size] = {name: _jobs(spark, f"{name}-{size}", lambda: p(src))
                     for name, p in probes.items()}
    assert len(os.listdir(os.path.join(tmpdir_path, "bl10"))) > 32
    assert got[1000] == got[10]
    assert {k: v[0] for k, v in got[10].items()} == {
        "max_lsn": 500, "min_lsn": 1, "min_lsn_after": 251, "read_range": 21}


def test_read_range_over_hole_is_empty_with_read_columns(spark, tmpdir_path):
    src = _gapped_log(spark, tmpdir_path)
    full = src.read_range(500, 501)
    assert full.count() == 2
    # a hole spanning whole absent buckets, and one inside a present bucket
    for lo, hi in ((100, 300), (6, 9)):
        hole = src.read_range(lo, hi)
        assert hole.count() == 0
        assert hole.dtypes == full.dtypes


@pytest.mark.parametrize("make_dir", [False, True])
def test_probes_on_empty_log_submit_no_job(spark, tmpdir_path, make_dir):
    path = os.path.join(tmpdir_path, "bl")
    if make_dir:
        os.makedirs(path)
    src = BinlogSource(spark, path, bucket_size=10)
    got, n = _jobs(spark, f"empty-{make_dir}",
                   lambda: (src.max_lsn(), src.min_lsn(), src.min_lsn_after(0)))
    assert got == (None, None, None)
    assert n == 0


def test_bounded_batches_fast_forward_over_gap(spark, tmpdir_path):
    """The engine's bounded micro-batches must not crawl a 10^3-LSN hole
    one batch-width at a time."""
    rows = [_row(1, 0, "I", "a", 0, "v1"),
            _row(5000, 0, "U", "a", 0, "v2")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=16)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=10)
    batches = eng.run_available()
    assert len(batches) <= 4, f"crawled the gap: {len(batches)} batches"
    assert {r.text for r in t.read().collect()} == {"v2"}


def test_binlog_prune_drops_consumed_buckets_and_replay_survives(spark, tmpdir_path):
    """BinlogSource.prune(before_lsn): buckets wholly below the consumed
    frontier are physically removed (the reference's capture prune
    cycle); the partial bucket at the frontier stays; an engine resuming
    from its checkpoint replays the retained tail to the exact oracle
    state."""
    rows = [_row(i, 0, "I" if i % 10 else "U", "a", i % 5, f"t{i}")
            for i in range(1, 41)]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=10)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                    max_lsns_per_batch=25)
    eng.run_available()
    want = [(r.conv_id, r.turn_idx, r.text) for r in
            t.read().orderBy("conv_id", "turn_idx").collect()]

    ck = eng.checkpoint.read().commit_lsn
    assert ck == 40
    # prune below LSN 25: buckets 0 ([0..9]) and 1 ([10..19]) go; bucket
    # 2 ([20..29]) holds the frontier's interior and stays
    removed = src.prune(25)
    assert removed == 2
    assert src.min_lsn() == 20
    assert src.max_lsn() == 40

    # single-consumer maintain() form prunes to the checkpoint
    stats = eng.maintain(prune_source=True)
    assert stats["pruned_binlog_buckets"] == 2   # buckets 2 and 3 (< 40)
    assert src.min_lsn() == 40

    # a restarted engine resumes cleanly over the pruned log (no new
    # events -> no-op) and the table state is untouched
    eng2 = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"),
                     max_lsns_per_batch=25)
    assert eng2.run_available() == []
    got = [(r.conv_id, r.turn_idx, r.text) for r in
           t.read().orderBy("conv_id", "turn_idx").collect()]
    assert got == want

    # new events past the pruned range still flow
    src.write(spark.createDataFrame([_row(41, 0, "U", "a", 0, "late")],
                                    BINLOG_SCHEMA))
    eng2.run_available()
    assert ("a", 0, "late") in [(r.conv_id, r.turn_idx, r.text)
                                for r in t.read().collect()]
