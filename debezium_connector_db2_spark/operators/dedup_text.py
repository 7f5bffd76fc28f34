"""Document deduplication operators for training-data pipelines.

Four families, each scale-shaped for Spark:

* **exact**: hash-groupBy on a normalized fingerprint — one shuffle on the
  md5, map-side combined; at 100 TB this is the cheapest possible dedup.
* **n-gram Jaccard** (exact near-dup): shingle -> inverted index ->
  candidate pairs by shared shingle -> exact Jaccard filter.  The join is
  on the shingle (high cardinality, well distributed); frequent-shingle
  skew is cut by dropping shingles above a document-frequency cap.
* **MinHash + LSH** (approximate near-dup): k seeded min-hashes ->
  signature -> banded bucket hash -> candidates join on (band, bucket) ->
  exact-Jaccard verification.  Probing cost is linear in docs; no O(n²).
* **SimHash**: B sign-bits of hash-weighted token sums -> fingerprint;
  near-dups = pairs within Hamming distance `max_hamming`, found by
  bucketing on fingerprint chunks (pigeonhole: d <= max_hamming implies
  some chunk of max_hamming+1 chunks matches exactly).

All hashes are the portable md5-60-bit family (functions/hashing.py) so
DuckDB oracles reproduce them bit-for-bit.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from debezium_connector_db2_spark.functions.caching import pin_for_result
from debezium_connector_db2_spark.functions.hashing import h60, seeded
from debezium_connector_db2_spark.functions.text import fingerprint, word_shingles

_log = logging.getLogger(__name__)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: keeper id + duplicate count."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _turn_fp(turn_col: str, text_col: str, role_col: str | None):
    """Per-turn fingerprint struct: md5 of the normalized text, with the
    role folded in when ``role_col`` is given — the same words spoken by
    a different role (user vs assistant vs tool) are a different turn in
    a transcript corpus (BASELINE input_hint carries role/tool columns).
    """
    fp = fingerprint(F.col(text_col))
    if role_col is not None:
        fp = F.md5(F.concat_ws("#", F.lower(F.coalesce(
            F.col(role_col), F.lit(""))), fp))
    return F.struct(F.col(turn_col).alias("t"), fp.alias("fp"))


def conversation_fingerprint(
    df: DataFrame, conv_col: str, turn_col: str, text_col: str,
    role_col: str | None = None,
) -> DataFrame:
    """Per-conversation fingerprint over *ordered* turns: md5 of the
    '|'-joined per-turn fingerprints in ``turn_col`` order — the
    transcript-level identity a training pipeline dedups on (two
    conversations are duplicates iff they say the same things in the
    same order; the same turns reordered are different conversations).

    Shape: one map-side per-turn fingerprint, then a single groupBy on
    the conversation id with ``sort_array(collect_list(...))`` — state
    per group is bounded by conversation length (same bound as the
    per-transaction classify window), so this scales to any number of
    conversations; it does NOT require globally sorted input.
    Returns (conv_id, conv_fp).
    """
    turn_fp = _turn_fp(turn_col, text_col, role_col)
    return (
        df.select(F.col(conv_col).alias("conv_id"), turn_fp.alias("tf"))
        .groupBy("conv_id")
        .agg(F.md5(F.concat_ws(
            "|",
            F.transform(F.sort_array(F.collect_list("tf")),
                        lambda x: x["fp"]))).alias("conv_fp"))
    )


def conversation_dedup(
    df: DataFrame, conv_col: str, turn_col: str, text_col: str,
    role_col: str | None = None,
) -> DataFrame:
    """Exact conversation-level dedup: one row per distinct ordered-turn
    fingerprint with the keeper (min conv id) and the duplicate count —
    ``exact_dedup``'s contract lifted from documents to multi-turn
    transcripts.  Two shuffles total (conv rollup, fingerprint rollup),
    both map-side combined."""
    return (
        conversation_fingerprint(df, conv_col, turn_col, text_col,
                                 role_col=role_col)
        .groupBy("conv_fp")
        .agg(F.min("conv_id").alias("keeper_conv"),
             F.count(F.lit(1)).alias("n_convs"))
    )


def conversation_turn_shingles(
    df: DataFrame, conv_col: str, turn_col: str, text_col: str,
    role_col: str | None = None,
) -> DataFrame:
    """Order-sensitive conversation shingles: one row per *turn
    transition* — ``fp(turn_i) | fp(turn_i+1)`` over the turn-ordered
    per-turn fingerprints (a single-turn conversation contributes its
    lone fingerprint).  Two conversations that say the same things in
    the same order share all transitions; the same turns *reordered*
    share almost none, so downstream Jaccard treats reorderings as
    different conversations — the same order sensitivity as
    :func:`conversation_fingerprint`, relaxed from exact to fuzzy.

    Shape: one map-side per-turn fingerprint, one groupBy(conv) with
    per-group state bounded by conversation length, then a zip_with of
    two slices (O(n_turns) per conv, no self-join).  Returns
    (doc_id=conv, shingle) ready for :func:`minhash_lsh_pairs_over`.
    """
    turn_fp = _turn_fp(turn_col, text_col, role_col)
    fps = (
        df.select(F.col(conv_col).alias("doc_id"), turn_fp.alias("tf"))
        .groupBy("doc_id")
        .agg(F.transform(F.sort_array(F.collect_list("tf")),
                         lambda x: x["fp"]).alias("fps"))
    )
    n = F.size("fps")
    transitions = F.zip_with(
        F.slice(F.col("fps"), 1, n - 1),
        F.slice(F.col("fps"), 2, n - 1),
        lambda a, b: F.concat(a, F.lit("|"), b),
    )
    # distinct per conversation, matching word_shingles' set semantics
    # (Jaccard downstream is over shingle *sets*)
    return fps.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.when(n == 1, F.col("fps")).otherwise(transitions)))
        .alias("shingle"),
    )


def conversation_near_dup(
    df: DataFrame,
    conv_col: str,
    turn_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_band_bucket_size: int | None = None,
    drop_stats: dict | None = None,
    role_col: str | None = None,
) -> DataFrame:
    """Conversation-level *near*-dup: minhash-LSH over the ordered
    turn-transition shingles, exact turn-transition-Jaccard verify —
    :func:`conversation_dedup`'s contract relaxed to fuzzy matching
    (transcripts that differ in a turn or two still pair; reordered
    turns do not).  Returns (conv_a, conv_b, jaccard), conv_a < conv_b.
    Composition of :func:`conversation_turn_shingles` and
    :func:`minhash_lsh_pairs_over`; scale shape is identical to
    :func:`minhash_lsh_pairs` (banded equi-join candidates, no O(n²)).
    """
    sh = conversation_turn_shingles(df, conv_col, turn_col, text_col,
                                    role_col=role_col)
    return (
        minhash_lsh_pairs_over(sh, n_hashes=n_hashes, bands=bands,
                               threshold=threshold,
                               max_band_bucket_size=max_band_bucket_size,
                               drop_stats=drop_stats)
        .withColumnRenamed("doc_a", "conv_a")
        .withColumnRenamed("doc_b", "conv_b")
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via a shingle inverted index.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded to
    6 dp.  ``max_shingle_df`` drops stop-shingles whose posting list would
    explode the candidate join (skew guard; documented loss: pairs similar
    *only* through ultra-common shingles are missed — acceptable for
    near-dup detection).  Library default is None (uncapped, exact);
    corpus-scale callers opt in with an explicit cap — same contract as
    :func:`minhash_lsh_pairs_over`.
    """
    sh = _shingled(df, id_col, text_col, k)
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
            .where(F.col("df_") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    # The (filtered) inverted index feeds three consumers (sizes, both
    # join sides); pin it for the result's lifetime — unpersisted
    # automatically when the caller drops the returned DataFrame
    # (pin_for_result), so repeated calls don't accumulate blocks.

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))

    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pin_for_result(out, sh)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k_shingle: int = 3, n_hashes: int = 16
) -> DataFrame:
    """Per-doc minhash signature as n_hashes columns mh0..mh{n-1}.

    Same split-hash scheme as :func:`minhash_lsh_pairs_over`: each
    seeded 60-bit md5 yields two 30-bit minhash functions (low/high
    halves), so the signature costs n_hashes/2 md5 evaluations."""
    assert n_hashes % 2 == 0
    sh = _shingled(df, id_col, text_col, k_shingle)
    aggs = []
    for i in range(n_hashes // 2):
        h = seeded(F.col("shingle"), i)
        aggs.append(
            F.min(h.bitwiseAND(F.lit((1 << 30) - 1))).alias(f"mh{2 * i}"))
        aggs.append(F.min(F.shiftright(h, 30)).alias(f"mh{2 * i + 1}"))
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_band_bucket_size: int | None = None,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Candidate pairs by banded LSH, verified with exact Jaccard.

    Signature of n_hashes rows split into ``bands`` bands of r =
    n_hashes/bands; docs sharing any band bucket become candidates.
    Candidates are then *exactly* verified, so output precision is 1.0 and
    only recall depends on the LSH parameters.
    """
    sh = _shingled(df, id_col, text_col, k_shingle)
    return minhash_lsh_pairs_over(sh, n_hashes=n_hashes, bands=bands,
                                  threshold=threshold,
                                  max_band_bucket_size=max_band_bucket_size,
                                  drop_stats=drop_stats)


def minhash_lsh_pairs_over(
    sh: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_band_bucket_size: int | None = None,
    drop_stats: dict | None = None,
) -> DataFrame:
    """The banded-LSH + exact-verify core over any pre-shingled
    ``(doc_id, shingle)`` frame — the unit :func:`minhash_lsh_pairs`
    (word shingles) and :func:`conversation_near_dup` (turn-transition
    shingles) share.  Returns (doc_a, doc_b, jaccard), doc_a < doc_b.

    ``max_band_bucket_size`` is the degenerate-bucket skew guard: with
    few rows per band (r = n_hashes/bands), weakly-similar docs that
    agree on just r minhashes land in the same bucket, and a hot bucket
    of B docs costs B²/2 candidate pairs — measured 60s (5M candidates,
    biggest bucket 1.6k docs) vs 4s capped on an 8× corpus.  Buckets
    over the cap are excluded from candidate generation; a pair is lost
    only if *every* band it agrees on is over-hot, and genuinely-near
    duplicates agree on many bands, most of them cold.  The library
    default is ``None`` (uncapped — full recall, no silent loss);
    corpus-scale callers opt in with an explicit cap and may pass
    ``drop_stats={}`` to have the dropped-bucket summary computed,
    logged, and filled in (same contract as :func:`simhash_pairs`).
    """
    assert n_hashes % bands == 0
    assert n_hashes % 2 == 0, "split-hash signatures need even n_hashes"
    r = n_hashes // bands
    # One shingle pass feeds the signatures AND the exact-verify stage;
    # the signature table feeds every band branch and both sides of the
    # candidate self-join (the agg would recompute 2*bands times
    # otherwise).  Both are pinned for the result's lifetime only
    # (pin_for_result) — released when the caller drops the result.
    #
    # Each seeded md5 yields a 60-bit value whose low and high 30-bit
    # halves serve as two independent minhash functions — n_hashes
    # signatures for n_hashes/2 md5 evaluations (the md5 is the dominant
    # per-shingle cost; measured ~25% off the whole query).  The DuckDB
    # twin (_minhash_sql) splits identically, bit-for-bit.
    half_aggs = []
    for i in range(n_hashes // 2):
        h = seeded(F.col("shingle"), i)
        half_aggs.append(
            F.min(h.bitwiseAND(F.lit((1 << 30) - 1))).alias(f"mh{2 * i}"))
        half_aggs.append(
            F.min(F.shiftright(h, 30)).alias(f"mh{2 * i + 1}"))
    sig = sh.groupBy("doc_id").agg(*half_aggs)

    # one explode pass instead of a bands-way union: every band branch
    # would re-project the cached signature table and multiply the plan
    # (and its codegen) by 2*bands across the self-join below
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"mh{b * r + j}").cast("string") for j in range(r)]
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("_", *cols)).alias("bucket"),
        ))
    buckets = (sig.select("doc_id",
                          F.explode(F.array(*band_structs)).alias("bb"))
               .select("doc_id", F.col("bb.band").alias("band"),
                       F.col("bb.bucket").alias("bucket")))
    if max_band_bucket_size is not None:
        # groupBy + semi-join instead of a window count: the per-bucket
        # count table is tiny (≤ live buckets), AQE broadcasts it
        counts = (buckets.groupBy("band", "bucket")
                  .agg(F.count(F.lit(1)).alias("__bn")))
        keep = (counts.where(F.col("__bn") <= max_band_bucket_size)
                .select("band", "bucket"))
        buckets = buckets.join(keep, ["band", "bucket"], "left_semi")
        if drop_stats is not None:
            over = (counts.where(F.col("__bn") > max_band_bucket_size)
                    .agg(F.count(F.lit(1)).alias("b"),
                         F.sum("__bn").alias("r")).collect()[0])
            drop_stats["dropped_buckets"] = over["b"]
            drop_stats["dropped_rows"] = over["r"] or 0
            if over["b"]:
                _log.warning(
                    "minhash_lsh_pairs: %d band buckets over cap %d "
                    "excluded (%d doc-band rows)", over["b"],
                    max_band_bucket_size, over["r"])

    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )

    # exact verification of candidates only (reuses the cached index)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a").join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pin_for_result(out, sh, sig)


def simhash(df: DataFrame, id_col: str, text_col: str, n_bits: int = 60) -> DataFrame:
    """SimHash fingerprint: sign of per-bit sums of token-hash bits.

    Shaped as (token, bit-index) explode → two map-side-combined aggs
    rather than one n_bits-wide aggregate: the wide form generates
    ~n_bits× more code (a multi-second JIT hit per fresh JVM) for the
    same shuffle volume (n_bits values per doc either way), while the
    explode's extra map-stage rows collapse in the partial aggregate
    before ever hitting the wire.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", h60(F.col("tok")))
    bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("i"),
        F.col("h"),
    ).select(
        "doc_id", "i",
        (F.expr("shiftright(h, i)").bitwiseAND(F.lit(1)) * 2 - 1).alias("pm"),
    )
    sums = bits.groupBy("doc_id", "i").agg(F.sum("pm").alias("s"))
    return sums.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") > 0, F.expr("shiftleft(1L, i)"))
              .otherwise(F.lit(0))).alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str,
    n_bits: int = 60, max_hamming: int = 3,
    max_bucket_size: int | None = None,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming``.

    Pigeonhole bucketing: split the fingerprint into max_hamming+1 chunks;
    any pair within distance d <= max_hamming agrees exactly on >=1 chunk,
    so candidates are found with equi-joins on (chunk_id, chunk_value) —
    never a cross join.

    Scale shape: with the 60-bit fingerprint and max_hamming=3 each chunk
    carries 15 bits (32K values), so random non-dup collisions per bucket
    stay ~n/2^15 per chunk.  ``max_bucket_size`` is the skew guard for
    *genuinely* hot buckets (e.g. thousands of identical boilerplate
    docs): buckets over the cap are excluded from candidate generation,
    which only misses pairs whose *every* agreeing chunk is over-hot.
    Library default is None (uncapped, full recall) — corpus-scale
    callers opt in with an explicit cap and may pass ``drop_stats={}``
    to have the dropped-bucket summary computed (one small aggregation
    job, result bounded by the number of hot buckets), logged, and
    filled in; or call ``oversized_chunk_buckets`` for the full list.
    """
    # The fingerprint table feeds every chunk branch on both sides of the
    # candidate self-join — without a cache the wide sign-sum agg
    # recomputes 2*(max_hamming+1) times.  Persisted here (so an eager
    # drop_stats aggregation below populates the cache too — one
    # fingerprint computation per call) and released automatically when
    # the caller drops the result (pin_for_result at the return).
    fps = simhash(df, id_col, text_col, n_bits).persist()
    n_chunks = max_hamming + 1
    chunk_bits = n_bits // n_chunks
    chunks = []
    for c in range(n_chunks):
        chunks.append(
            fps.select(
                "doc_id", "simhash",
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1)).alias("cval"),
            )
        )
    cdf = chunks[0]
    for c in chunks[1:]:
        cdf = cdf.unionByName(c)
    if max_bucket_size is not None:
        # groupBy+semi-join instead of a window count: the per-bucket
        # count table is tiny (≤ live buckets), AQE broadcasts it
        counts = (cdf.groupBy("chunk", "cval")
                  .agg(F.count(F.lit(1)).alias("__bn")))
        keep = (counts.where(F.col("__bn") <= max_bucket_size)
                .select("chunk", "cval"))
        cdf = cdf.join(keep, ["chunk", "cval"], "left_semi")
        if drop_stats is not None:
            # Same aggregation tree as `keep`, filtered the other way —
            # collected eagerly (bounded: one summary row).  Running it
            # here populates the persisted fps cache, so the caller's
            # action reuses the fingerprints: one fingerprint computation
            # per call.  (Observation can't fold this into the caller's
            # action — it breaks under the union+self-join plan.)
            over = (counts.where(F.col("__bn") > max_bucket_size)
                    .agg(F.count(F.lit(1)).alias("b"),
                         F.sum("__bn").alias("r")).collect()[0])
            drop_stats["dropped_buckets"] = over["b"]
            drop_stats["dropped_rows"] = over["r"] or 0
            if over["b"]:
                _log.warning(
                    "simhash_pairs: %d chunk buckets over cap %d excluded "
                    "(%d doc-chunk rows)", over["b"], max_bucket_size,
                    over["r"])
    cand = (
        cdf.alias("x").join(cdf.alias("y"), ["chunk", "cval"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("ha"), F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    out = (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return pin_for_result(out, fps)


def oversized_chunk_buckets(
    df: DataFrame, id_col: str, text_col: str,
    n_bits: int = 60, max_hamming: int = 3, max_bucket_size: int = 1000,
) -> DataFrame:
    """Diagnostic companion to ``simhash_pairs``: the (chunk, cval)
    buckets the cap would exclude, with their sizes — the "logged drops"
    half of the no-silent-caps rule."""
    fps = simhash(df, id_col, text_col, n_bits)
    n_chunks = max_hamming + 1
    chunk_bits = n_bits // n_chunks
    parts = []
    for c in range(n_chunks):
        parts.append(fps.select(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * chunk_bits)
            .bitwiseAND(F.lit((1 << chunk_bits) - 1)).alias("cval"),
        ))
    cdf = parts[0]
    for p in parts[1:]:
        cdf = cdf.unionByName(p)
    return (
        cdf.groupBy("chunk", "cval").agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
    )


def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs — the step that turns
    pair lists into an actionable dedup decision: ``(doc_id, cluster_id,
    is_keeper)`` where ``cluster_id`` is the smallest doc id reachable
    through pair edges and the keeper is the cluster's minimum.

    Min-label propagation with **pointer doubling**: the seed label is
    already ``min(self, direct neighbors)`` (one aggregation — the first
    propagation round for free), then each round every node takes::

        label = min(label, min(neighbor labels), label(label))

    The ``label(label)`` hop (pointer doubling, as in the classic
    Shiloach–Vishkin / large-star contractions) halves the remaining
    chain depth each round, so convergence is **O(log diameter)** join
    rounds instead of O(diameter) — a depth-40 chain settles in ~6
    rounds, and the typical shallow near-dup cluster (a boilerplate
    clique is diameter ~2) is fully labelled by the seed and needs one
    confirming round.  Each round is a constant number of equi-joins +
    one aggregation on doc id — never a driver-side graph.

    Convergence is detected by the **changed-row count** (``new.label !=
    old.label``) carried through the round's own plan: type-agnostic
    (works for string ids — a label *sum* would cast strings to NULL and
    declare instant convergence), overflow-free, and a correctness
    certificate: zero changes means every node's label equals the min
    over itself, its neighbors, and its label's label, which forces the
    label constant (and equal to the minimum id) on every component.

    Docs that appear in no pair are absent (they are their own keeper by
    definition).  Raises after ``max_iters`` rounds without convergence
    rather than returning silently-partial clusters.

    Lineage: each round references the previous label table three times
    (self, neighbor side, pointer hop), so building rounds directly on
    the prior round's *plan* grows the logical tree 3^rounds-fold —
    measured as multi-second driver-side analysis per round dwarfing the
    actual (tiny) data work.  Instead every round **spills its label
    table to a scratch parquet** and reads it back: lineage is truncated
    to a file scan, the convergence count is a metadata-cheap scan of
    the just-written table, and the same move is exactly what a
    10^10-edge run needs anyway (a reliable checkpoint per round, as
    GraphFrames' connected components does — label tables are two
    columns, so the per-round I/O is the cheapest step of the round).
    The scratch directory lives exactly as long as the returned result
    (weakref finalizer, same contract as pin_for_result); the edge list
    is cache-pinned to the result the same way.
    """
    import shutil
    import tempfile
    import weakref

    spark = pairs.sparkSession
    scratch = tempfile.mkdtemp(prefix="cdc-cc-")

    def _spill(df: DataFrame, name: str) -> DataFrame:
        path = f"{scratch}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    try:
        # seed = min(self, direct neighbors): one map-side-combined agg —
        # the first propagation round for free; spilling it also cuts the
        # (expensive) pair-generation plan out of every round's lineage
        labels = _spill(
            sym.groupBy("src")
            .agg(F.min("dst").alias("__m"))
            .select(F.col("src").alias("doc"),
                    F.least(F.col("src"), F.col("__m")).alias("label")),
            "labels-seed")
        converged = False
        for it in range(max_iters):
            lab = labels.select("doc", "label")
            neigh = (sym.join(lab, sym["dst"] == lab["doc"])
                     .groupBy("src").agg(F.min("label").alias("nlabel")))
            hop = lab.select(F.col("doc").alias("p_doc"),
                             F.col("label").alias("p_label"))
            new = (lab.alias("l")
                   .join(neigh, F.col("l.doc") == neigh["src"], "left")
                   .join(hop, F.col("l.label") == hop["p_doc"], "left")
                   .select(F.col("l.doc").alias("doc"),
                           F.col("l.label").alias("old_label"),
                           F.least(
                               F.col("l.label"),
                               F.coalesce(F.col("nlabel"), F.col("l.label")),
                               F.coalesce(F.col("p_label"), F.col("l.label")),
                           ).alias("label")))
            # the changed-row count rides the spill write itself as an
            # Observation (safe here: `new` is a plain join+project that
            # the write executes exactly once) — previously each round
            # paid a second job re-reading the just-written table just
            # to count label != old_label
            from pyspark.sql import Observation

            obs = Observation(f"cc-changed-{it}")
            watched = new.observe(
                obs, F.count(F.when(
                    F.col("label") != F.col("old_label"), 1))
                .alias("changed"))
            labels = _spill(watched, f"labels-{it}")
            changed = int(obs.get["changed"] or 0)
            if changed == 0:
                converged = True
                break
        if not converged:
            raise ValueError(
                f"dedup_clusters did not converge in {max_iters} rounds "
                f"(pathologically deep component?)")
    except BaseException:
        sym.unpersist()
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    out = labels.select(
        F.col("doc").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("doc")).alias("is_keeper"),
    )
    out = pin_for_result(out, sym)
    weakref.finalize(out, shutil.rmtree, scratch, True)
    return out
