"""Binlog lake source: LSN-bucketed parquet change log.

Plays the role of the Db2 capture tables.  Layout::

    <dir>/lsn_bucket=<commit_lsn // bucket_size>/part-*.parquet

``BinlogSource`` owns this layout: ``_buckets`` is the one place that
parses the directory names, and ``_scan`` reads exactly the named bucket
directories.  Every read goes through the two, so the max-LSN probe and
an LSN-interval scan (the reference's indexed
``WHERE IBMSNAP_COMMITSEQ BETWEEN ? AND ?`` range scan,
``LuwPlatform.java:29-39``) touch only the buckets they need — they never
list the whole log, whose listing becomes a Spark job of its own past 32
bucket directories.  At 100 TB this is the difference between scanning
the whole log per micro-batch and scanning one slice.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from debezium_connector_db2_spark.schemas import (
    BINLOG_SCHEMA,
    DEFAULT_LSN_BUCKET_SIZE,
    LSN_BUCKET_COL,
)


def read_schema(schema: T.StructType) -> T.StructType:
    """The event schema plus the ``lsn_bucket`` partition column — what a
    batch or streaming read of the binlog directory yields."""
    return T.StructType(
        list(schema.fields) + [T.StructField(LSN_BUCKET_COL, T.LongType(), True)])


class BinlogSource:
    def __init__(self, spark: SparkSession, path: str,
                 bucket_size: int = DEFAULT_LSN_BUCKET_SIZE,
                 schema=None):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.bucket_size = bucket_size
        #: binlog event schema; override to carry evolved payload columns
        self.schema = schema or BINLOG_SCHEMA

    def write(self, binlog: DataFrame, mode: str = "append") -> None:
        (
            binlog.withColumn(
                LSN_BUCKET_COL,
                (F.col("commit_lsn") / F.lit(self.bucket_size)).cast("long"),
            )
            .repartition(LSN_BUCKET_COL)
            .write.partitionBy(LSN_BUCKET_COL)
            .mode(mode)
            .parquet(self.path)
        )

    def _bucket_dir(self, b: int) -> str:
        return os.path.join(self.path, f"{LSN_BUCKET_COL}={b}")

    def _buckets(self) -> list[int]:
        """Sorted ids of the bucket directories on disk; [] for a missing
        log.  A plain directory listing — no Spark job."""
        if not os.path.isdir(self.path):
            return []
        prefix = f"{LSN_BUCKET_COL}="
        return sorted(int(d[len(prefix):]) for d in os.listdir(self.path)
                      if d.startswith(prefix))

    def _scan(self, buckets: list[int]) -> DataFrame:
        """Read exactly the named bucket directories (``lsn_bucket`` stays a
        partition column via ``basePath``); no bucket -> an empty frame
        with the same schema."""
        schema = read_schema(self.schema)
        if not buckets:
            return self.spark.createDataFrame([], schema)
        return (self.spark.read.schema(schema).option("basePath", self.path)
                .parquet(*(self._bucket_dir(b) for b in buckets)))

    def _lsn_agg(self, buckets: list[int], agg, *preds) -> int | None:
        """One aggregate over ``commit_lsn`` in ``buckets`` — None, with no
        Spark job, when there is no bucket to read."""
        if not buckets:
            return None
        df = self._scan(buckets)
        for p in preds:
            df = df.where(p)
        return df.agg(agg("commit_lsn").alias("m")).collect()[0]["m"]

    def read(self) -> DataFrame:
        return self._scan(self._buckets())

    def read_range(self, from_lsn: int, to_lsn: int) -> DataFrame:
        """Closed-interval scan with both partition pruning (only the
        overlapping bucket directories, plus the lsn_bucket predicate)
        and row-group skipping (commit_lsn min/max stats)."""
        lo_b = from_lsn // self.bucket_size
        hi_b = to_lsn // self.bucket_size
        return self._scan([b for b in self._buckets() if lo_b <= b <= hi_b]).where(
            (F.col(LSN_BUCKET_COL) >= lo_b) & (F.col(LSN_BUCKET_COL) <= hi_b)
            & (F.col("commit_lsn") >= from_lsn) & (F.col("commit_lsn") <= to_lsn)
        ).drop(LSN_BUCKET_COL)

    def min_lsn_after(self, lsn: int) -> int | None:
        """Smallest commit_lsn strictly greater than ``lsn`` — lets the
        engine fast-forward over LSN gaps instead of scanning empty
        micro-batch ranges.

        One query over at most two buckets: ``lsn``'s own bucket (which
        may hold only rows <= lsn) and the next bucket that exists.  That
        suffices because a bucket directory exists only after ``write``
        has put rows in it, and ``prune`` removes whole directories — so
        every later bucket holds only rows > lsn, and the next one holds
        the answer whenever the own bucket does not.
        """
        own = lsn // self.bucket_size
        later = [b for b in self._buckets() if b >= own]
        window = later[:2] if later and later[0] == own else later[:1]
        return self._lsn_agg(window, F.min, F.col("commit_lsn") > lsn)

    def prune(self, before_lsn: int) -> int:
        """Drop whole LSN buckets wholly below ``before_lsn`` — the
        reference's capture-table prune cycle (``asncdc.c`` prune
        command / ``IBMSNAP_PRUNCNTL`` coordination): change rows every
        subscriber has consumed are physically removed so the capture
        log stays bounded over a 10^10-event lifetime.

        ``before_lsn`` must be the MINIMUM consumed frontier across ALL
        consumers of this binlog — each engine's checkpoint commit_lsn
        (``MultiFeedPublisher.prune_binlog`` computes the min for shared
        logs; ``CdcEngine.maintain(prune_source=True)`` covers the
        single-consumer case).  Engines never re-read at or below their
        checkpoint, so removing strictly-below buckets can never drop an
        unapplied event.  Bucket granularity: the partial bucket
        containing ``before_lsn`` is kept (its tail may still be
        needed).  Pure directory removals — no Spark job, no rewrite.
        Returns the number of buckets removed.
        """
        # bucket b holds commit_lsn in [b*size, (b+1)*size - 1]
        gone = [b for b in self._buckets()
                if (b + 1) * self.bucket_size - 1 < before_lsn]
        for b in gone:
            shutil.rmtree(self._bucket_dir(b), ignore_errors=True)
        return len(gone)

    def min_lsn(self) -> int | None:
        """Smallest retained commit_lsn (None for an empty log) — what a
        brand-new consumer can replay from after pruning; reads the
        bottom bucket only."""
        return self._lsn_agg(self._buckets()[:1], F.min)

    def max_lsn(self) -> int | None:
        """S5 probe: reads the top bucket only."""
        return self._lsn_agg(self._buckets()[-1:], F.max)
