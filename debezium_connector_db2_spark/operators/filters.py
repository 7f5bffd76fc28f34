"""Predicate operators F1–F6 + S3/S5/S6 range/probe scans (SURVEY.md §2.2).

All are thin, declarative DataFrame predicates so Catalyst pushes them into
the parquet scan (``PushedFilters``) and prunes LSN-bucket partitions —
the Spark rendering of the reference's indexed capture-table range scans
(``LuwPlatform.java:29-39``, index ``asncdcaddremove.sql:101-106``).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, functions as F


def lsn_range(df: DataFrame, from_lsn: int, to_lsn: int) -> DataFrame:
    """S3: closed LSN interval scan (``Db2Connection.java:181-188``)."""
    return df.where((F.col("commit_lsn") >= from_lsn) & (F.col("commit_lsn") <= to_lsn))


def after_position(df: DataFrame, commit_lsn: int, intent_seq: int) -> DataFrame:
    """F2/F3: restart dedup — drop rows at or before the checkpointed
    position ``(commit_lsn, intent_seq)`` (``Db2StreamingChangeEventSource
    .java:208-223``).  Tuple compare, pushdown-friendly: the coarse
    ``commit_lsn >= x`` bound prunes buckets, the precise struct compare
    finishes the job.
    """
    coarse = F.col("commit_lsn") >= F.lit(commit_lsn)
    precise = F.struct(F.col("commit_lsn"), F.col("intent_seq")) > F.struct(
        F.lit(commit_lsn).cast("long"), F.lit(intent_seq).cast("long")
    )
    return df.where(coarse & precise)


def null_lsn_guard(df: DataFrame) -> DataFrame:
    """F5 (``Db2StreamingChangeEventSource.java:203-207``)."""
    return df.where(F.col("commit_lsn").isNotNull())


def include_tables(df: DataFrame, included: Iterable[str]) -> DataFrame:
    """F1: table include-list (``Db2StreamingChangeEventSource.java:358-368``)."""
    return df.where(F.col("table").isin(list(included)))


def exclude_tables(df: DataFrame, excluded: Iterable[str]) -> DataFrame:
    return df.where(~F.col("table").isin(list(excluded)))


def stop_lsn_filter(df: DataFrame, registry: DataFrame) -> DataFrame:
    """F4: drop changes at/after a capture instance's stop LSN
    (``Db2StreamingChangeEventSource.java:233-239``).  Registry is tiny →
    broadcast join.
    """
    reg = F.broadcast(registry.select("table", "schema_version", "stop_lsn"))
    joined = df.join(reg, on=["table", "schema_version"], how="left")
    return joined.where(
        F.col("stop_lsn").isNull() | (F.col("commit_lsn") < F.col("stop_lsn"))
    ).drop("stop_lsn")


def select_columns(
    all_columns: Sequence[str],
    qualified_table: str,
    include_list: str | None = None,
    exclude_list: str | None = None,
    always_keep: Sequence[str] = (),
) -> list[str]:
    """Debezium's ``column.include.list`` / ``column.exclude.list``
    resolution (RelationalDatabaseConnectorConfig; the Db2 connector
    inherits it): comma-separated regexes fullmatched case-insensitively
    against the *fully-qualified* column name ``schema.table.column``.
    Exactly one of include/exclude may be set (both raises, mirroring
    the reference's config validation).  ``always_keep`` columns (the
    PK / CDC position columns) survive either mode — the reference
    refuses to drop key columns.  Returns the retained columns in their
    original order; a config column remains a *plan-time* projection, so
    Catalyst prunes the parquet scan to the survivors.
    """
    import re

    if include_list and exclude_list:
        raise ValueError("column.include.list and column.exclude.list "
                         "are mutually exclusive")
    if not include_list and not exclude_list:
        return list(all_columns)
    pats = [re.compile(p.strip(), re.IGNORECASE)
            for p in (include_list or exclude_list).split(",") if p.strip()]

    def matched(col: str) -> bool:
        return any(p.fullmatch(f"{qualified_table}.{col}") for p in pats)

    keep = set(always_keep)
    if include_list:
        return [c for c in all_columns if c in keep or matched(c)]
    return [c for c in all_columns if c in keep or not matched(c)]


def filtered_schema(
    schema,
    qualified_table: str,
    include_list: str | None = None,
    exclude_list: str | None = None,
    always_keep: Sequence[str] = (),
):
    """Resolve ``column.include.list`` / ``column.exclude.list`` into the
    *target table schema* — the architectural home of column filtering
    in this engine: the reference drops excluded columns from every
    emitted event; here the target is created WITHOUT them, and the
    engine's payload projection (= target schema) then keeps excluded
    columns out of the binlog scan (Catalyst prunes the parquet read),
    the MERGE, and the exported events by construction::

        schema = filtered_schema(FULL_SCHEMA, "cdc.transcripts",
                                 exclude_list=r"cdc\\.transcripts\\.tool",
                                 always_keep=PK_COLS)
        target = LakeTable.create(spark, path, schema, ...)
    """
    from pyspark.sql import types as T

    names = select_columns([f.name for f in schema.fields], qualified_table,
                           include_list=include_list,
                           exclude_list=exclude_list,
                           always_keep=always_keep)
    keep = set(names)
    return T.StructType([f for f in schema.fields if f.name in keep])


def order_nulls_last(df: DataFrame, *cols: str) -> DataFrame:
    """O5: Db2 sorts NULLs *last* under ASC (``Db2Connection.java:460-465``)
    while Spark's default ASC puts them first — make the Db2 semantics
    explicit wherever ordering over nullable keys is user-visible."""
    return df.orderBy(*[F.asc_nulls_last(c) for c in cols])


def max_lsn(df: DataFrame) -> int | None:
    """S5: high-water-mark probe (``Db2Connection.java:108-116``)."""
    row = df.agg(F.max("commit_lsn").alias("m")).collect()[0]
    return row["m"]


def max_lsn_for_timespan(df: DataFrame, from_lsn: int, seconds: int) -> int | None:
    """S6: time-bounded end LSN (``Db2Connection.java:118-170``).

    Largest commit_lsn whose ts <= (min ts past from_lsn) + seconds —
    bounds a micro-batch by wall-clock span like
    ``streaming.query.timespan.seconds``.
    """
    ahead = df.where(F.col("commit_lsn") > from_lsn)
    lo_ts = ahead.agg(F.min("ts").alias("t")).collect()[0]["t"]
    if lo_ts is None:
        return None
    bound = ahead.where(
        F.col("ts") <= F.lit(lo_ts) + F.make_dt_interval(secs=F.lit(float(seconds)))
    ).agg(F.max("commit_lsn").alias("m")).collect()[0]["m"]
    return bound
