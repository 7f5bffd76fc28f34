"""Incremental dedup against a persisted fingerprint index.

A 100-TB corpus is not deduplicated once — every new crawl batch must be
checked against *all previously ingested* content.  Rescanning the full
corpus per batch is O(history) and dies at scale; the standard shape is
a persistent fingerprint INDEX the pipeline probes and extends
incrementally: O(batch) work per batch, state bounded by one row per
distinct fingerprint.

This module builds that index on the repo's own lake machinery
(`lake.LakeTable`, merge-on-read): new fingerprints are *appended* as
per-bucket deltas (one write job, no read of existing data) under an
idempotent ``batch_id`` — a crashed-and-retried batch cannot
double-register fingerprints (the same exactly-once contract the CDC
sink uses, T4).

Scale shape of the probe: the normal regime is batch ≪ index (a daily
crawl vs years of history), so the batch's distinct fingerprints are
BROADCAST and the index is left-semi-probed — the index streams through
once with NO shuffle of either side and the match set that comes back
is at most the batch size.  The only shuffle anywhere is the
batch-internal first-occurrence window (small side).  Set
``broadcast_probe=False`` for a degenerate huge-batch regime to fall
back to a shuffle join.

Reference analogue: none directly (the reference is a CDC connector);
the idempotent-batch index commit mirrors its exactly-once sink
contract (``Db2ConnectorIT.java:104-258`` via ``lake.merge_changes``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from debezium_connector_db2_spark.functions.caching import pin_for_result
from debezium_connector_db2_spark.functions.text import fingerprint
from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.streaming.checkpoint import create_or_adopt

#: One row per distinct fingerprint ever seen; ``doc_id`` records the
#: canonical (first-seen) document for provenance/auditing.
INDEX_SCHEMA = T.StructType([
    T.StructField("fp", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), True),
])


class IncrementalDeduper:
    """Probe-and-extend fingerprint index for cross-batch exact dedup."""

    def __init__(self, spark: SparkSession, index_path: str,
                 n_buckets: int = 64):
        self.spark = spark
        # Create-vs-open decided by existence, NOT by whether the
        # manifest read succeeds: a transient read failure on an
        # EXISTING index (torn manifest, OSError on the version
        # pointer) must propagate — re-creating would flip the version
        # pointer back to 0 and silently discard the entire fingerprint
        # history, re-admitting every previously-seen duplicate.
        if LakeTable.exists(index_path):
            self.index = LakeTable.load(spark, index_path)
        else:
            self.index = LakeTable.create(
                spark, index_path, INDEX_SCHEMA, bucket_by="fp",
                n_buckets=n_buckets, versioned=True, merge_mode="mor",
                key_cols=["fp"],
            )

    def process_batch(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        batch_seq: int,
        batch_id: str | None = None,
        broadcast_probe: bool = True,
    ) -> DataFrame:
        """Mark each doc as duplicate-or-new and register the new
        fingerprints.

        A doc is ``is_dup`` iff its fingerprint was registered by an
        earlier batch OR an earlier row (smaller ``id_col``) of THIS
        batch carries it.  Returns ``(id_col, fp, is_dup)``; the caller
        filters ``~is_dup`` for the kept set.  The index commit is
        idempotent on ``batch_id`` (default ``batch-{batch_seq}``) —
        a replayed batch re-returns the same verdicts and appends
        nothing.

        NOTE: the verdict frame must be consumed (or the registration
        happens) in batch order — ``batch_seq`` is the index's logical
        clock (monotonic per call), mirroring the engine's LSN.  The
        probe reads only index rows registered at ``commit_lsn <
        batch_seq``: a crashed-and-replayed batch (whose own
        fingerprints ARE already in the index) re-derives the ORIGINAL
        verdicts instead of seeing itself and marking everything dup.
        """
        fps = docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            fingerprint(F.col(text_col)).alias("fp"),
        )
        w = Window.partitionBy("fp").orderBy("doc_id")
        # persist: the fingerprint+window frame feeds the probe build,
        # the verdict join, and the register set — the eager index
        # commit below materializes the cache, the verdict (pinned to
        # it) reads it back instead of re-fingerprinting the batch
        fps = fps.withColumn("__first",
                             F.row_number().over(w) == 1).persist()

        # raw=True exposes __commit_lsn (== the registering batch_seq);
        # excluding >= batch_seq rows makes replay idempotent end-to-end.
        prior = (self.index.read(raw=True)
                 .where(F.col("__commit_lsn") < int(batch_seq))
                 .select("fp"))
        new_keys = fps.where("__first").select("fp", "doc_id")
        if broadcast_probe:
            probe = F.broadcast(new_keys.select("fp"))
            matched = (prior
                       .join(probe, "fp", "left_semi")
                       .select("fp", F.lit(True).alias("__seen")))
            matched = F.broadcast(matched)
        else:
            matched = (prior
                       .join(new_keys.select("fp"), "fp", "left_semi")
                       .select("fp", F.lit(True).alias("__seen")))
        verdict = (fps.join(matched, "fp", "left")
                   .select(F.col("doc_id").alias(id_col), "fp",
                           (F.coalesce(F.col("__seen"), F.lit(False))
                            | ~F.col("__first")).alias("is_dup")))

        to_register = (fps.where("__first")
                       .join(matched, "fp", "left")
                       .where(F.col("__seen").isNull())
                       .select(
                           "fp", "doc_id",
                           F.lit(int(batch_seq)).alias("commit_lsn"),
                           F.lit(0).alias("intent_seq"),
                           F.lit("c").alias("op")))
        self.index.merge_changes(
            to_register, ["fp"], op_col="op", delete_op="d",
            batch_id=batch_id or f"batch-{batch_seq}",
            summary={"operation": "dedup-index-extend",
                     "batch_seq": int(batch_seq)},
        )
        return pin_for_result(verdict, fps)

    def max_registered_seq(self) -> int:
        """Largest ``batch_seq`` that ever registered a fingerprint (0
        on a fresh index) — the resume point for a new logical clock."""
        row = (self.index.read(raw=True)
               .agg(F.max("__commit_lsn")).collect()[0][0])
        return int(row or 0)

    def compact(self) -> None:
        """Fold per-bucket delta files into base files (MoR maintenance;
        amortize every N batches like the engine's auto-compaction)."""
        self.index.compact()


class StreamingDeduper:
    """Structured Streaming front-end for :class:`IncrementalDeduper`
    (or, with ``near=True``, :class:`IncrementalNearDeduper`):
    a parquet file stream of crawl drops → ``foreachBatch`` probe +
    extend → kept (non-duplicate) docs written per epoch.

    Exactly-once across crash/replay, mirroring ``streaming.stream``:

    * index side — ``process_batch`` commits under
      ``crawl-{epoch}``; a replayed epoch registers nothing twice and
      (via the ``commit_lsn < batch_seq`` probe) re-derives the same
      verdicts;
    * output side — kept docs land at ``out_dir/epoch={epoch}`` with
      ``mode=overwrite``: a replay rewrites the same path, so readers
      of ``out_dir`` never see doubled batches;
    * clock side — ``batch_seq = base + epoch + 1`` where ``base`` is
      PERSISTED beside the checkpoint the first time the query starts
      (``{checkpoint_dir}/dedup_base_seq.json``, written atomically)
      and re-read on every restart.  Recomputing ``base`` from the
      index at construction would break exactly-once in one crash
      window: index registered for epoch N, crash BEFORE the streaming
      checkpoint commits → restart replays epoch N with a larger base,
      the ``commit_lsn < batch_seq`` probe then sees the epoch's own
      registrations, every doc is marked dup and ``out_dir/epoch=N``
      is overwritten empty.  With the persisted base the replayed
      epoch maps to the SAME seq, the probe excludes its own
      registrations, and the original verdicts are re-derived.  A
      reset checkpoint (new dir, epoch ids restart at 0) gets a fresh
      base file seeded from the index's max registered seq, so early
      batches still see the existing index as prior history.

    The reference analogue of the lifecycle (stream + persistent
    server-side state that must survive restart) is the capture
    program's restart contract (``asncdc.c`` init/reinit).
    """

    def __init__(self, spark: SparkSession, crawl_dir: str,
                 index_path: str, out_dir: str, checkpoint_dir: str,
                 id_col: str = "doc_id", text_col: str = "text",
                 schema=None, max_files_per_trigger: int | None = None,
                 compact_every: int = 4, near: bool = False,
                 near_kwargs: dict | None = None):
        self.spark = spark
        self.crawl_dir = crawl_dir
        self.out_dir = out_dir
        self.checkpoint_dir = checkpoint_dir
        self.id_col, self.text_col = id_col, text_col
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        self.compact_every = compact_every
        # near=True swaps the exact fingerprint index for the MinHash-
        # LSH one (IncrementalNearDeduper, near_kwargs forwarded) — the
        # probe/extend/clock contracts are identical, so the streaming
        # lifecycle (persisted base seq, idempotent epochs, overwrite-
        # by-path output) is shared verbatim.
        if near:
            self.dedup = IncrementalNearDeduper(
                spark, index_path, **(near_kwargs or {}))
        else:
            self.dedup = IncrementalDeduper(spark, index_path)
        self._base_seq = self._load_base_seq()

    def _load_base_seq(self) -> int:
        """Stable per-checkpoint clock base (see class docstring).

        Written once, atomically, on the FIRST start against this
        checkpoint dir; every restart — including a crash-replay where
        the index committed an epoch the checkpoint didn't — reuses it,
        so ``epoch_id → batch_seq`` is a pure function of the
        checkpoint's lifetime and replayed epochs re-derive their
        original verdicts.
        """
        import json
        import os

        text = create_or_adopt(
            os.path.join(self.checkpoint_dir, "dedup_base_seq.json"),
            lambda: json.dumps({"base_seq": self.dedup.max_registered_seq()}))
        return int(json.loads(text)["base_seq"])

    def _apply(self, batch: DataFrame, epoch_id: int) -> None:
        import os

        seq = self._base_seq + int(epoch_id) + 1
        verdict = self.dedup.process_batch(
            batch, self.id_col, self.text_col, batch_seq=seq,
            batch_id=f"crawl-{seq}")
        kept = (batch.join(
            verdict.where(~F.col("is_dup")).select(self.id_col),
            self.id_col, "left_semi"))
        kept.write.mode("overwrite").parquet(
            os.path.join(self.out_dir, f"epoch={int(epoch_id)}"))
        if seq % self.compact_every == 0:
            self.dedup.compact()

    def run_available(self) -> None:
        """Drain all currently-visible crawl files and stop."""
        reader = self.spark.readStream
        if self.schema is not None:
            reader = reader.schema(self.schema)
        else:
            reader = reader.schema(
                self.spark.read.parquet(self.crawl_dir).schema)
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   self.max_files_per_trigger)
        q = (reader.parquet(self.crawl_dir)
             .writeStream.foreachBatch(self._apply)
             .option("checkpointLocation", self.checkpoint_dir)
             .trigger(availableNow=True)
             .outputMode("update")
             .start())
        q.awaitTermination()


#: Near-dup index: one row per (doc, band) carrying the band's LSH
#: bucket AND the doc's full minhash signature — a candidate row found
#: by the (band, bucket) probe already has the old signature, so the
#: verify stage needs no second index lookup.
NEAR_INDEX_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("bucket", T.StringType(), False),
    T.StructField("sig", T.ArrayType(T.LongType()), True),
])

#: Encodes (batch_seq, doc_id) into one orderable BIGINT so the
#: deterministic dup_of pick is a plain min(); doc ids must be
#: < KEY_BASE (validated per batch).
KEY_BASE = 10 ** 12


class IncrementalNearDeduper:
    """Cross-batch NEAR-duplicate detection against a persisted
    MinHash-LSH index — the growing-corpus form of
    ``dedup_text.minhash_lsh_pairs``.

    A 100-TB crawl pipeline near-dedups every new batch against ALL
    prior content; rescanning history per batch is O(history).  This
    keeps the banded-LSH state persistent: per already-ingested doc,
    its ``bands`` (band, bucket) rows with the full minhash signature
    attached (:data:`NEAR_INDEX_SCHEMA`).  A new batch

    1. computes signatures + band buckets (one shingle pass, split-hash
       md5 — identical hashes to the batch operator),
    2. probes the index with an equi-join on ``(band, bucket)`` — the
       (small) batch side is **broadcast**, the (huge) index streams
       through with no shuffle, exactly the exact-deduper's probe
       shape,
    3. verifies candidates by signature agreement: a pair is near-dup
       iff ``>= min_matches`` of the ``n_hashes`` minhash components
       agree (the standard unbiased Jaccard estimate; integer compare,
       no float thresholds).  Within-batch pairs join the same verify,
    4. registers ALL batch docs' band rows under an idempotent
       ``batch_id`` (near-dups too: a future doc similar to a dropped
       dup but not its keeper must still be caught, and the index is
       the provenance record).  The probe reads only rows with
       ``__commit_lsn < batch_seq``, so a crashed-and-replayed batch
       re-derives its ORIGINAL verdicts (same clock contract as
       :class:`IncrementalDeduper`).

    Verdicts: ``(id_col, is_dup, dup_of)`` — ``dup_of`` is the
    earliest prior match (min over ``(batch_seq, doc_id)``), NULL when
    kept.  Docs shorter than ``k_shingle`` words have no signature:
    they are returned kept and not indexed.

    Citations: banded LSH per Leskovec/Rajaraman/Ullman MMDS ch.3;
    near-dedup-per-crawl-batch per MassiveText (Rae 2021 §A1.2) and
    RefinedWeb (Penedo 2023 §3.3); no reference-repo analogue (the
    reference is a CDC connector — the idempotent commit mirrors its
    exactly-once sink, Db2ConnectorIT.java:104-258).
    """

    def __init__(self, spark: SparkSession, index_path: str,
                 k_shingle: int = 2, n_hashes: int = 16, bands: int = 4,
                 min_matches: int | None = None,
                 threshold: float = 0.5, n_buckets: int = 64):
        if n_hashes % bands or n_hashes % 2:
            raise ValueError(
                f"IncrementalNearDeduper: n_hashes must be even and "
                f"divisible by bands, got n_hashes={n_hashes} "
                f"bands={bands}")
        self.spark = spark
        self.k_shingle = int(k_shingle)
        self.n_hashes = int(n_hashes)
        self.bands = int(bands)
        if min_matches is None:
            # ceil without floats straddling engine boundaries
            min_matches = -((-int(round(threshold * 1000))
                             * n_hashes) // 1000)
        self.min_matches = int(min_matches)
        if not 1 <= self.min_matches <= n_hashes:
            raise ValueError(
                f"IncrementalNearDeduper: min_matches must be in "
                f"[1, n_hashes], got {self.min_matches}")
        # create-vs-open by existence, exactly like IncrementalDeduper:
        # a transient manifest read error must propagate, not silently
        # re-create (and so discard) the signature history
        if LakeTable.exists(index_path):
            self.index = LakeTable.load(spark, index_path)
        else:
            self.index = LakeTable.create(
                spark, index_path, NEAR_INDEX_SCHEMA,
                bucket_by="bucket", n_buckets=n_buckets,
                versioned=True, merge_mode="mor",
                key_cols=["doc_id", "band"],
            )

    def _signed_bands(self, docs: DataFrame, id_col: str,
                      text_col: str) -> DataFrame:
        """(doc_id, band, bucket, sig) for every batch doc with >= 1
        shingle — identical hashing to minhash_lsh_pairs_over /
        _minhash_sql (split-hash signatures, md5 band buckets)."""
        from debezium_connector_db2_spark.operators.dedup_text import (
            minhash_signatures)

        # lazy engine-side guard: dup_of decoding (seq·KEY_BASE + id)
        # needs ids in [0, KEY_BASE) — raise at execution rather than
        # silently mis-attributing provenance
        guarded = F.when(
            (F.col(id_col) < 0) | (F.col(id_col) >= KEY_BASE),
            F.raise_error(F.concat(
                F.lit("IncrementalNearDeduper: doc id out of "
                      f"[0, {KEY_BASE}): "),
                F.col(id_col).cast("string")))
        ).otherwise(F.col(id_col).cast("long"))
        sig = minhash_signatures(
            docs.select(guarded.alias("doc_id"), text_col),
            "doc_id", text_col, k_shingle=self.k_shingle,
            n_hashes=self.n_hashes)
        r = self.n_hashes // self.bands
        band_structs = []
        for b in range(self.bands):
            cols = [F.col(f"mh{b * r + j}").cast("string")
                    for j in range(r)]
            band_structs.append(F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *cols)).alias("bucket")))
        arr = F.array(*[F.col(f"mh{i}") for i in range(self.n_hashes)])
        return (sig.select("doc_id", arr.alias("sig"),
                           F.explode(F.array(*band_structs)).alias("bb"))
                .select("doc_id", F.col("bb.band").alias("band"),
                        F.col("bb.bucket").alias("bucket"), "sig"))

    def process_batch(self, docs: DataFrame, id_col: str, text_col: str,
                      batch_seq: int, batch_id: str | None = None,
                      broadcast_probe: bool = True) -> DataFrame:
        """Verdict every batch doc against prior batches + earlier rows
        of this batch, then register the batch's band rows.  See class
        docstring for the contract."""
        # persist: the signature/band frame feeds the broadcast probe,
        # BOTH sides of the within-batch candidate join, and the
        # register set — four recomputations of the minhash aggregation
        # per batch otherwise.  The eager index commit materializes the
        # cache; the verdict (pinned to it) reads it back.
        nb = self._signed_bands(docs, id_col, text_col).persist()
        new_side = (nb.select(F.col("doc_id").alias("__new"),
                              "band", "bucket",
                              F.col("sig").alias("__nsig")))
        prior = (self.index.read(raw=True)
                 .where(F.col("__commit_lsn") < int(batch_seq))
                 .select(F.col("doc_id").alias("__old"),
                         "band", "bucket",
                         F.col("sig").alias("__osig"),
                         F.col("__commit_lsn").alias("__oseq")))
        probe = F.broadcast(new_side) if broadcast_probe else new_side
        cand_prior = prior.join(probe, ["band", "bucket"])
        a = new_side.select(F.col("__new").alias("__old"), "band",
                            "bucket", F.col("__nsig").alias("__osig"),
                            F.lit(int(batch_seq)).alias("__oseq"))
        cand_batch = (a.join(new_side, ["band", "bucket"])
                      .where(F.col("__old") < F.col("__new")))
        cand = cand_prior.unionByName(cand_batch)
        n_match = F.size(F.filter(
            F.zip_with("__osig", "__nsig", lambda x, y: x == y),
            lambda v: v))
        hits = (cand
                .select("__new",
                        (F.col("__oseq") * F.lit(KEY_BASE)
                         + F.col("__old")).alias("__k"),
                        n_match.alias("__m"))
                .where(F.col("__m") >= F.lit(self.min_matches))
                .groupBy("__new").agg(F.min("__k").alias("__k")))
        verdict = (docs.select(F.col(id_col).cast("long").alias(id_col))
                   .join(hits,
                         F.col(id_col) == F.col("__new"), "left")
                   .select(id_col,
                           F.col("__k").isNotNull().alias("is_dup"),
                           (F.col("__k") % F.lit(KEY_BASE))
                           .alias("dup_of")))
        to_register = nb.select(
            "doc_id", "band", "bucket", "sig",
            F.lit(int(batch_seq)).alias("commit_lsn"),
            F.lit(0).alias("intent_seq"),
            F.lit("c").alias("op"))
        self.index.merge_changes(
            to_register, ["doc_id", "band"], op_col="op", delete_op="d",
            batch_id=batch_id or f"near-{batch_seq}",
            summary={"operation": "neardedup-index-extend",
                     "batch_seq": int(batch_seq)},
        )
        return pin_for_result(verdict, nb)

    def max_registered_seq(self) -> int:
        """Largest ``batch_seq`` that ever registered (0 when fresh)."""
        row = (self.index.read(raw=True)
               .agg(F.max("__commit_lsn")).collect()[0][0])
        return int(row or 0)

    def compact(self) -> None:
        """Fold per-bucket MoR deltas into base files."""
        self.index.compact()


def incremental_near_sql(table: str, id_col: str, text_col: str,
                         batch_expr: str, k_shingle: int = 2,
                         n_hashes: int = 16, bands: int = 4,
                         min_matches: int = 8) -> str:
    """DuckDB twin of a full :class:`IncrementalNearDeduper` run where
    batches are assigned by ``batch_expr`` (a BIGINT SQL expression —
    e.g. ``doc_id % 3`` — smaller = earlier): because every doc's band
    rows are registered regardless of verdict, the incremental result
    equals the GLOBAL banded-LSH pass restricted to precedence
    ``(seq, doc_id) < (seq, doc_id)`` — no per-batch unrolling needed.
    Hashing is bit-identical to ``_minhash_sql``'s (split-hash
    signatures, md5 band buckets)."""
    from debezium_connector_db2_spark.functions.hashing import seeded_sql
    from debezium_connector_db2_spark.functions.text import (
        word_shingles_sql)

    r = n_hashes // bands
    min_terms = []
    for i in range(n_hashes // 2):
        h = seeded_sql("shingle", i)
        min_terms.append(f"min(({h}) % 1073741824) AS mh{2 * i}")
        min_terms.append(f"min(({h}) // 1073741824) AS mh{2 * i + 1}")
    mins = ", ".join(min_terms)
    band_selects = []
    for b in range(bands):
        concat = " || '_' || ".join(
            f"CAST(mh{b * r + j} AS VARCHAR)" for j in range(r))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({concat}) AS bucket "
            f"FROM sig")
    bands_sql = "\n              UNION ALL ".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(n_hashes))
    shingles = word_shingles_sql(text_col, k_shingle)
    return f"""
        WITH base AS (
          SELECT {id_col}, CAST({batch_expr} AS BIGINT) AS seq
          FROM {table}
        ), sh AS (
          SELECT {id_col} AS doc_id, unnest({shingles}) AS shingle
          FROM {table}
        ), sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
        bnd AS ({bands_sql}),
        keyd AS (
          SELECT b.doc_id, b.band, b.bucket, s.seq
          FROM bnd b JOIN base s ON b.doc_id = s.{id_col}),
        cand AS (
          SELECT DISTINCT x.doc_id AS old_doc, x.seq AS old_seq,
                          y.doc_id AS new_doc
          FROM keyd x JOIN keyd y USING (band, bucket)
          WHERE x.seq < y.seq
             OR (x.seq = y.seq AND x.doc_id < y.doc_id)),
        mat AS (
          SELECT c.old_doc, c.old_seq, c.new_doc, {agree} AS nm
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.old_doc
          JOIN sig sb ON sb.doc_id = c.new_doc),
        hits AS (
          SELECT new_doc,
                 min(old_seq * {KEY_BASE} + old_doc) AS k
          FROM mat WHERE nm >= {min_matches}
          GROUP BY new_doc)
        SELECT b.{id_col}, h.k IS NOT NULL AS is_dup,
               h.k % {KEY_BASE} AS dup_of
        FROM base b LEFT JOIN hits h ON h.new_doc = b.{id_col}
    """
