"""Full Debezium record envelope: nested ``source`` struct with the golden
field set/order (``Db2SourceInfoStructMaker.java:19-51``, asserted by
``SourceInfoTest.java:86-104``) and key+null-value tombstones."""

import datetime
import os

from debezium_connector_db2_spark import __version__
from debezium_connector_db2_spark.functions.envelope import SOURCE_FIELD_NAMES
from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.schemas import BINLOG_SCHEMA, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.streaming.engine import CdcEngine

TS = datetime.datetime(2026, 1, 2, 3, 4, 5)


def _row(lsn, seq, op, conv, turn, text):
    return (lsn, seq, op, "transcripts", 0, conv, turn, "user", text, None, TS)


def _engine(spark, tmpdir_path):
    rows = [
        _row(1, 0, "I", "a", 0, "hello"),
        _row(2, 0, "D", "a", 0, "hello"),
        _row(3, 0, "I", "b", 0, "world"),
    ]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    return CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))


def test_source_struct_golden_schema(spark, tmpdir_path):
    """Field names in the reference's exact order, with the reference's
    optionality split (SourceInfoTest.java schemaIsCorrect)."""
    eng = _engine(spark, tmpdir_path)
    env = eng.export_envelope(1, 3, db="c", schema_name="s")
    src_type = env.schema["envelope"].dataType["source"].dataType
    assert [f.name for f in src_type.fields] == SOURCE_FIELD_NAMES
    by_name = {f.name: f.dataType.simpleString() for f in src_type.fields}
    assert by_name["version"] == "string"
    assert by_name["connector"] == "string"
    assert by_name["name"] == "string"
    assert by_name["ts_ms"] == "bigint"
    assert by_name["snapshot"] == "string"
    assert by_name["db"] == "string"
    assert by_name["sequence"] == "string"
    assert by_name["ts_us"] == "bigint"
    assert by_name["ts_ns"] == "bigint"
    assert by_name["schema"] == "string"
    assert by_name["table"] == "string"
    assert by_name["change_lsn"] == "string"
    assert by_name["commit_lsn"] == "string"
    # top-level envelope: before/after/source/op/ts_ms
    assert [f.name for f in env.schema["envelope"].dataType.fields] == [
        "before", "after", "source", "op", "ts_ms"]


def test_source_struct_values(spark, tmpdir_path):
    eng = _engine(spark, tmpdir_path)
    rows = eng.export_envelope(1, 3, tombstones=False, server_name="srv1",
                               db="c", schema_name="s").collect()
    assert len(rows) == 3
    r = next(x for x in rows if x.commit_lsn == 1)
    s = r.envelope.source
    assert s.version == __version__
    assert s.connector == "db2-spark"
    assert s.name == "srv1"
    assert s.snapshot == "false"
    assert (s.db, s.schema, s.table) == ("c", "s", "transcripts")
    assert s.sequence is None
    # LSNs as zero-padded order-preserving hex (Lsn.java:62-102)
    assert s.commit_lsn == "0000000000000001"
    assert s.change_lsn == "0000000000000000"
    # commit instant from the event's inline ts, ms/us/ns consistent
    epoch = TS.replace(tzinfo=datetime.timezone.utc).timestamp()
    assert s.ts_ms == int(epoch * 1000)
    assert s.ts_us == s.ts_ms * 1000 and s.ts_ns == s.ts_us * 1000
    assert r.envelope.ts_ms == s.ts_ms
    assert r.envelope.op == "c"
    assert r.envelope.after.text == "hello" and r.envelope.before is None


def test_tombstone_is_key_plus_null_envelope(spark, tmpdir_path):
    eng = _engine(spark, tmpdir_path)
    rows = eng.export_envelope(1, 3, tombstones=True).collect()
    tomb = [r for r in rows if r.envelope is None]
    assert len(tomb) == 1
    assert tomb[0].key.conv_id == "a" and tomb[0].key.turn_idx == 0
    # the delete record itself still has a full envelope with before image
    d = next(r for r in rows if r.envelope is not None and r.envelope.op == "d")
    assert d.envelope.before.text == "hello" and d.envelope.after is None
    assert d.key.conv_id == "a"


def test_transaction_block_orders(spark, tmpdir_path):
    """provide.transaction.metadata per-record block: total_order counts
    1..N across the transaction, data_collection_order per table
    (``TransactionMetadataIT.java:110-117``)."""
    from pyspark.sql import functions as F

    from debezium_connector_db2_spark.functions.envelope import wrap_envelope

    # hand-built two-table feed for one transaction (commit_lsn=7):
    # tablea, tableb, tablea, tableb — like the IT's interleaved inserts
    img = F.struct(F.lit("x").alias("conv_id"), F.lit(0).alias("turn_idx"),
                   F.lit(TS).alias("ts"))
    rows = spark.createDataFrame(
        [(7, i, t) for i, t in enumerate(["tablea", "tableb",
                                          "tablea", "tableb"])],
        "commit_lsn: long, intent_seq: long, table: string")
    feed = rows.select("commit_lsn", "intent_seq", "table",
                       F.lit("c").alias("op"),
                       img.alias("before"), img.alias("after"))
    out = wrap_envelope(feed, version="0.1.0", name="srv", db="d",
                        schema_name="s", transaction_block=True)
    got = sorted(((r.table, r.envelope.transaction.total_order,
                   r.envelope.transaction.data_collection_order)
                  for r in out.collect()))
    assert got == [("tablea", 1, 1), ("tablea", 3, 2),
                   ("tableb", 2, 1), ("tableb", 4, 2)]
    tx_ids = {r.envelope.transaction.id for r in out.collect()}
    assert tx_ids == {"0000000000000007"}


def test_engine_envelope_transaction_block(spark, tmpdir_path):
    eng = _engine(spark, tmpdir_path)
    rows = eng.export_envelope(1, 3, transaction_block=True).collect()
    data = [r for r in rows if r.envelope is not None]
    assert all(r.envelope.transaction.total_order == 1 for r in data), \
        "single-event transactions: every record is position 1"
    # tombstones have no envelope hence no transaction block
    assert any(r.envelope is None for r in rows)


def test_skip_operations_and_unwrap(spark, tmpdir_path):
    """skipped.operations drops the listed op codes (a skipped delete
    takes its tombstone with it); unwrap_envelope is the
    ExtractNewRecordState SMT — flat after-image rows with __-metadata,
    deletes rewritten from the before image or dropped."""
    from debezium_connector_db2_spark.functions.envelope import (
        skip_operations,
        unwrap_envelope,
    )

    eng = _engine(spark, tmpdir_path)
    feed = eng.export_events(1, 3, tombstones=True)
    assert sorted(r.op for r in feed.collect()) == ["c", "c", "d", "t"]
    assert sorted(r.op for r in skip_operations(feed, "d").collect()) \
        == ["c", "c"]
    assert sorted(r.op for r in skip_operations(feed, {"c"}).collect()) \
        == ["d", "t"]

    records = eng.export_envelope(1, 3)
    flat = unwrap_envelope(records).orderBy("__lsn").collect()
    assert [(r.conv_id, r["__op"], r["__deleted"]) for r in flat] == [
        ("a", "c", False), ("a", "d", True), ("b", "c", False)]
    assert flat[0].text == "hello" and flat[0]["__table"] == "transcripts"
    assert flat[1].text == "hello"          # rewritten from before image
    kept = unwrap_envelope(records, drop_deletes=True).collect()
    assert sorted(r.conv_id for r in kept) == ["a", "b"]
    assert all(not r["__deleted"] for r in kept)


def test_message_key_columns_rewrite(spark, tmpdir_path):
    """message.key.columns rewrites the record key per table regex
    (Db2ConnectorIT.java:790-820 shouldRewriteIdentityKey, DBZ-775):
    the key struct carries the listed columns — here the PK's conv_id
    plus the non-PK role — instead of the fixed PK struct."""
    rows = [_row(1, 0, "I", "a", 0, "hello")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(
        spark, src, t, os.path.join(tmpdir_path, "ck"),
        message_key_columns="(.*).transcripts:conv_id,turn_idx,role")
    assert eng.record_key_columns() == ["conv_id", "turn_idx", "role"]
    rec = eng.export_envelope(1, 1).collect()[0]
    assert rec.key.asDict() == {"conv_id": "a", "turn_idx": 0,
                                "role": "user"}

    # a non-matching regex leaves the PK key in place
    eng2 = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck2"),
                     message_key_columns="(.*).othertable:conv_id,role")
    assert eng2.record_key_columns() == ["conv_id", "turn_idx"]

    # first matching entry wins among several
    eng3 = CdcEngine(
        spark, src, t, os.path.join(tmpdir_path, "ck3"),
        message_key_columns="(.*).other:x;(.*).transcripts:conv_id,role;"
                            "(.*).transcripts:turn_idx")
    assert eng3.record_key_columns() == ["conv_id", "role"]

    # unknown column fails loudly at export, not silently
    import pytest
    eng4 = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck4"),
                     message_key_columns="(.*).transcripts:nope")
    with pytest.raises(ValueError, match="nope"):
        eng4.export_envelope(1, 1)


def test_datatype_propagate_source_type(spark, tmpdir_path):
    """datatype.propagate.source.type attaches the reference's exact
    per-column __debezium.source.column.type/length/scale parameters
    (Db2ConnectorIT.java:822-871, DBZ-1916/DBZ-1830) for columns whose
    source type matches the regex list — and only those."""
    from debezium_connector_db2_spark.functions.envelope import (
        TYPE_LENGTH_PARAMETER_KEY,
        TYPE_NAME_PARAMETER_KEY,
        TYPE_SCALE_PARAMETER_KEY,
        source_type_parameters,
    )

    # the IT's dt_table column catalog (DECIMAL(5,2), VARCHAR(128),
    # REAL(24), DECFLOAT->DECIMAL(8,4); ID/C1/C2 are non-matching types)
    column_types = {
        "id": ("INTEGER", None, None),
        "c1": ("BIGINT", None, None),
        "c2": ("SMALLINT", None, None),
        "c3a": ("DECIMAL", 5, 2),
        "c3b": ("VARCHAR", 128, None),
        "f1": ("REAL", 24, None),
        "f2": ("DECIMAL", 8, 4),
    }
    params = source_type_parameters(
        column_types, r".+\.NUMERIC,.+\.VARCHAR,.+\.DECIMAL,.+\.REAL",
        "cdc.dt_table")
    assert set(params) == {"c3a", "c3b", "f1", "f2"}   # id/c1/c2: none
    assert params["c3a"] == {TYPE_NAME_PARAMETER_KEY: "DECIMAL",
                             TYPE_LENGTH_PARAMETER_KEY: "5",
                             TYPE_SCALE_PARAMETER_KEY: "2"}
    assert params["c3b"] == {TYPE_NAME_PARAMETER_KEY: "VARCHAR",
                             TYPE_LENGTH_PARAMETER_KEY: "128"}
    assert params["f2"] == {TYPE_NAME_PARAMETER_KEY: "DECIMAL",
                            TYPE_LENGTH_PARAMETER_KEY: "8",
                            TYPE_SCALE_PARAMETER_KEY: "4"}
    assert params["f1"] == {TYPE_NAME_PARAMETER_KEY: "REAL",
                            TYPE_LENGTH_PARAMETER_KEY: "24"}

    # end-to-end: the engine renders the map as a constant column
    rows = [_row(1, 0, "I", "a", 0, "hello")]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(
        spark, src, t, os.path.join(tmpdir_path, "ck"),
        source_column_types={"conv_id": ("VARCHAR", 64, None),
                             "turn_idx": ("INTEGER", None, None),
                             "text": ("VARCHAR", 32000, None)},
        datatype_propagate_source_type=r".+\.VARCHAR")
    rec = eng.export_envelope(1, 1).collect()[0]
    assert rec.source_types == {
        "conv_id": {TYPE_NAME_PARAMETER_KEY: "VARCHAR",
                    TYPE_LENGTH_PARAMETER_KEY: "64"},
        "text": {TYPE_NAME_PARAMETER_KEY: "VARCHAR",
                 TYPE_LENGTH_PARAMETER_KEY: "32000"},
    }
    # no propagation configured -> no source_types column at all
    eng2 = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck2"))
    assert "source_types" not in eng2.export_envelope(1, 1).columns


def test_snapshot_last_record(spark, tmpdir_path):
    """source.snapshot renders 'last' on the final snapshot read record
    (SnapshotRecord.LAST — consumers detect snapshot completion by it);
    earlier reads stay 'true', streamed ops stay 'false'."""
    rows = [
        _row(1, 0, "R", "a", 0, "s1"),
        _row(1, 1, "R", "a", 1, "s2"),
        _row(1, 2, "R", "b", 0, "s3"),
        _row(2, 0, "I", "c", 0, "streamed"),
    ]
    src = BinlogSource(spark, os.path.join(tmpdir_path, "bl"), bucket_size=8)
    src.write(spark.createDataFrame(rows, BINLOG_SCHEMA))
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=2)
    eng = CdcEngine(spark, src, t, os.path.join(tmpdir_path, "ck"))
    recs = (eng.export_envelope(1, 2, mark_last_snapshot=True)
            .orderBy("commit_lsn", "intent_seq").collect())
    snaps = [r.envelope.source.snapshot for r in recs]
    assert snaps == ["true", "true", "last", "false"]
    # without the flag, behavior is unchanged (cdc_envelope oracle parity)
    recs2 = (eng.export_envelope(1, 2)
             .orderBy("commit_lsn", "intent_seq").collect())
    assert [r.envelope.source.snapshot for r in recs2] == [
        "true", "true", "true", "false"]


def test_key_columns_for_matches_qualified_name_only():
    """message.key.columns regexes fullmatch the *fully-qualified*
    identifier, mirroring Debezium core: an 'orders:id' entry meant for
    one schema must not rewrite every schema's 'orders' table.  The
    looser bare-table matching is opt-in."""
    from debezium_connector_db2_spark.functions.envelope import key_columns_for

    # bare-table spec does not match a qualified name by default
    assert key_columns_for("orders:id", "sales.orders", ["pk"]) == ["pk"]
    # explicit opt-in restores the loose behavior
    assert key_columns_for("orders:id", "sales.orders", ["pk"],
                           match_bare_table=True) == ["id"]
    # qualified spec matches as before
    assert key_columns_for(r"sales\.orders:id", "sales.orders",
                           ["pk"]) == ["id"]
    assert key_columns_for(r"sales\.orders:id", "hr.orders",
                           ["pk"]) == ["pk"]


def test_column_propagate_source_type():
    """column.propagate.source.type — the per-column-regex variant from
    RelationalDatabaseConnectorConfig (alongside K2's datatype-regex
    form): regexes fullmatch the qualified column name
    (schema.table.column / table.column), matched columns carry the same
    __debezium.source.column.* parameter keys, and a column matched by
    both configs carries them once."""
    from debezium_connector_db2_spark.functions.envelope import (
        TYPE_LENGTH_PARAMETER_KEY,
        TYPE_NAME_PARAMETER_KEY,
        TYPE_SCALE_PARAMETER_KEY,
        source_type_parameters,
    )

    column_types = {
        "id": ("INTEGER", None, None),
        "c3a": ("DECIMAL", 5, 2),
        "c3b": ("VARCHAR", 128, None),
    }
    # column-regex only
    params = source_type_parameters(
        column_types, None, "cdc.dt_table",
        column_propagate=r".+\.dt_table\.c3a")
    assert set(params) == {"c3a"}
    assert params["c3a"] == {TYPE_NAME_PARAMETER_KEY: "DECIMAL",
                             TYPE_LENGTH_PARAMETER_KEY: "5",
                             TYPE_SCALE_PARAMETER_KEY: "2"}
    # table-qualified (no schema) form also matches
    params = source_type_parameters(
        column_types, None, "cdc.dt_table",
        column_propagate=r"dt_table\.c3b")
    assert set(params) == {"c3b"}
    assert params["c3b"] == {TYPE_NAME_PARAMETER_KEY: "VARCHAR",
                             TYPE_LENGTH_PARAMETER_KEY: "128"}
    # both configs matching the same column -> parameters appear once
    params = source_type_parameters(
        column_types, r".+\.DECIMAL", "cdc.dt_table",
        column_propagate=r".+\.c3a")
    assert set(params) == {"c3a"}
    # a column regex must match the full qualified name, not a substring
    params = source_type_parameters(
        column_types, None, "cdc.dt_table", column_propagate=r"c3a")
    assert params == {}
