"""Unit tests for the per-operator kernels (SURVEY.md §5 'unit tier')."""

import datetime
import os

from pyspark.sql import functions as F

from debezium_connector_db2_spark.operators.classify import (
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE_AFTER,
    OP_UPDATE_BEFORE,
    classify_opcodes,
    to_change_events,
)
from debezium_connector_db2_spark.operators.dedup import latest_per_key
from debezium_connector_db2_spark.operators.filters import (
    after_position,
    lsn_range,
    max_lsn,
    max_lsn_for_timespan,
    null_lsn_guard,
    stop_lsn_filter,
)
from debezium_connector_db2_spark.operators.masking import (
    mask_hash,
    mask_with_chars,
    truncate_to_chars,
)
from debezium_connector_db2_spark.schemas import BINLOG_SCHEMA, CAPTURE_REGISTRY_SCHEMA

TS = datetime.datetime(2026, 1, 1)


def _row(lsn, seq, op, conv, turn, text, sv=0, ts=TS):
    return (lsn, seq, op, "transcripts", sv, conv, turn, "user", text, None, ts)


def _binlog(spark, rows):
    return spark.createDataFrame(rows, BINLOG_SCHEMA)


def test_classify_pair_encoding(spark):
    """D immediately followed by I in one tx = update halves (opcodes 3/4,
    LuwPlatform.java:29-39); isolated D/I stay delete/insert."""
    df = _binlog(spark, [
        _row(1, 0, "I", "c", 0, "a"),
        _row(2, 0, "D", "c", 0, "a"),   # pair: update before
        _row(2, 1, "I", "c", 0, "b"),   # pair: update after
        _row(2, 2, "D", "c", 1, "x"),   # plain delete (followed by nothing)
        _row(3, 0, "D", "c", 2, "y"),   # plain delete (own tx)
    ])
    got = {(r.commit_lsn, r.intent_seq): r.opcode for r in classify_opcodes(df).collect()}
    assert got[(1, 0)] == OP_INSERT
    assert got[(2, 0)] == OP_UPDATE_BEFORE
    assert got[(2, 1)] == OP_UPDATE_AFTER
    assert got[(2, 2)] == OP_DELETE
    assert got[(3, 0)] == OP_DELETE


def test_pair_collapses_to_single_update(spark):
    df = _binlog(spark, [
        _row(2, 0, "D", "c", 0, "old"),
        _row(2, 1, "I", "c", 0, "new"),
    ])
    ev = to_change_events(df).collect()
    assert len(ev) == 1
    e = ev[0]
    assert e.op == "u" and e.before.text == "old" and e.after.text == "new"


def test_pk_update_splits_into_delete_plus_insert(spark):
    """PK change = delete old key + insert new key
    (Db2ConnectorIT.java:161-258)."""
    df = _binlog(spark, [
        _row(5, 0, "D", "c", 0, "v"),
        _row(5, 1, "I", "c", 9, "v"),   # same conv, new turn_idx
    ])
    ev = sorted(to_change_events(df).collect(), key=lambda r: r.intent_seq)
    assert [e.op for e in ev] == ["d", "c"]
    assert ev[0].before.turn_idx == 0 and ev[0].after is None
    assert ev[1].after.turn_idx == 9 and ev[1].before is None


def test_dedup_strategies_agree(spark):
    rows = [
        _row(1, 0, "I", "c", 0, "v1"),
        _row(3, 0, "U", "c", 0, "v3"),
        _row(2, 0, "U", "c", 0, "v2"),
        _row(3, 1, "U", "c", 0, "v3b"),   # same lsn, later intent wins
        _row(1, 0, "I", "d", 0, "w1"),
    ]
    df = _binlog(spark, rows).select("commit_lsn", "intent_seq", "op",
                                     "conv_id", "turn_idx", "text")
    expect = {("c", 0): "v3b", ("d", 0): "w1"}
    for strat in ("agg", "window", "salted"):
        got = {(r.conv_id, r.turn_idx): r.text
               for r in latest_per_key(df, ["conv_id", "turn_idx"],
                                       strategy=strat).collect()}
        assert got == expect, strat


def test_position_and_range_filters(spark):
    df = _binlog(spark, [
        _row(1, 5, "I", "c", 0, "a"),
        _row(2, 0, "I", "c", 1, "b"),
        _row(2, 3, "I", "c", 2, "c"),
        _row(3, 0, "I", "c", 3, "d"),
    ])
    assert lsn_range(df, 2, 2).count() == 2
    # strictly after (2, 0): rows (2,3) and (3,0)
    got = {(r.commit_lsn, r.intent_seq) for r in after_position(df, 2, 0).collect()}
    assert got == {(2, 3), (3, 0)}
    assert max_lsn(df) == 3
    assert max_lsn(df.where(F.lit(False))) is None


def test_timespan_bounded_end_lsn(spark):
    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    df = _binlog(spark, [
        _row(1, 0, "I", "c", 0, "a", ts=t0),
        _row(2, 0, "I", "c", 1, "b", ts=t0 + datetime.timedelta(seconds=5)),
        _row(3, 0, "I", "c", 2, "c", ts=t0 + datetime.timedelta(seconds=100)),
    ])
    # from LSN 0, 10-second span: includes lsn 1,2 but not 3 (S6)
    assert max_lsn_for_timespan(df, 0, 10) == 2
    assert max_lsn_for_timespan(df, 0, 1000) == 3
    assert max_lsn_for_timespan(df, 3, 10) is None


def test_stop_lsn_filter(spark):
    df = _binlog(spark, [
        _row(1, 0, "I", "c", 0, "a", sv=0),
        _row(9, 0, "I", "c", 1, "b", sv=0),   # past instance stop LSN: drop
        _row(9, 1, "I", "c", 2, "c", sv=1),   # new instance: keep
    ])
    reg = spark.createDataFrame(
        [("transcripts", "v0", 0, 5, 0, "I"), ("transcripts", "v1", 5, None, 1, "A")],
        CAPTURE_REGISTRY_SCHEMA,
    )
    got = {r.intent_seq for r in stop_lsn_filter(df, reg).where("commit_lsn = 9").collect()}
    assert got == {1}


def test_masking(spark):
    df = spark.createDataFrame([("secret", "abcdef", None)], "a string, b string, c string")
    r = mask_with_chars(df, "a", 4).collect()[0]
    assert r.a == "****"
    r = truncate_to_chars(df, "b", 3).collect()[0]
    assert r.b == "abc"
    r = mask_hash(df, "a", salt="s").collect()[0]
    import hashlib
    assert r.a == hashlib.sha256(b"ssecret").hexdigest()
    assert mask_hash(df, "c", salt="s").collect()[0].c is None


def test_column_include_exclude_lists(spark, tmpdir_path):
    """column.include.list / column.exclude.list (Debezium core config
    the Db2 connector inherits): regexes fullmatch schema.table.column;
    PK columns always survive; both set -> config error.  The filter
    resolves into the target schema (filtered_schema), so a replay over
    a filtered target stores, scans, and exports only survivors."""
    import datetime

    from debezium_connector_db2_spark.lake import LakeTable
    from debezium_connector_db2_spark.operators.filters import (
        filtered_schema,
        select_columns,
    )
    from debezium_connector_db2_spark.schemas import (
        BINLOG_SCHEMA,
        PK_COLS,
        TRANSCRIPT_SCHEMA,
    )
    from debezium_connector_db2_spark.sources.binlog import BinlogSource
    from debezium_connector_db2_spark.streaming.engine import CdcEngine

    cols = [f.name for f in TRANSCRIPT_SCHEMA.fields]
    assert cols == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    qt = "cdc.transcripts"
    assert select_columns(cols, qt, include_list=r"cdc\.transcripts\.text",
                          always_keep=PK_COLS) == \
        ["conv_id", "turn_idx", "text"]
    assert select_columns(cols, qt, exclude_list=r".*\.tool,.*\.role") == \
        ["conv_id", "turn_idx", "text", "ts"]
    # fullmatch, not substring; PK survives an exclude that names it
    assert select_columns(cols, qt, exclude_list=r"tool") == cols
    assert select_columns(cols, qt, exclude_list=r".*\.conv_id",
                          always_keep=PK_COLS) == cols
    import pytest
    with pytest.raises(ValueError, match="mutually exclusive"):
        select_columns(cols, qt, include_list="a", exclude_list="b")

    # end-to-end: target created from the filtered schema; replay works
    # and neither stores nor exports the excluded column
    schema = filtered_schema(TRANSCRIPT_SCHEMA, qt,
                             exclude_list=r".*\.tool", always_keep=PK_COLS)
    assert "tool" not in [f.name for f in schema.fields]
    ts = datetime.datetime(2026, 1, 1)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(
        [(1, 0, "I", "transcripts", 0, "a", 0, "user", "hi", "grep", ts)],
        BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"), schema,
                         bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    eng.run_available()
    got = t.read().collect()
    assert [(r.conv_id, r.text) for r in got] == [("a", "hi")]
    assert "tool" not in t.read().columns
    ev = eng.export_events(1, 1).collect()
    for r in ev:
        for side in (r.before, r.after):
            if side is not None:
                assert "tool" not in side.asDict()


def test_null_lsn_guard_drops_in_flight_rows(spark):
    """F5: rows whose commit LSN is still NULL (uncommitted/in-flight
    capture reads) must be dropped and never counted toward frontiers
    (``Db2StreamingChangeEventSource.java:203-207``)."""
    from pyspark.sql import types as T

    nullable = T.StructType([
        T.StructField(f.name, f.dataType, True) for f in BINLOG_SCHEMA.fields])
    df = spark.createDataFrame([
        _row(1, 0, "I", "c", 0, "a"),
        _row(None, 0, "I", "c", 1, "b"),
        _row(2, 0, "I", "c", 2, "c"),
    ], nullable)
    kept = null_lsn_guard(df)
    assert kept.count() == 2
    assert max_lsn(kept) == 2
    assert {r.turn_idx for r in kept.collect()} == {0, 2}
