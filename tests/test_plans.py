"""Plan-shape regression tests — the 100×-scale guarantees (SURVEY.md §4).

Correctness tests can't catch a filter that stops reaching the scan or a
broadcast that silently becomes a shuffle; these pin the physical plan.
"""

import os

from pyspark.sql import functions as F

from debezium_connector_db2_spark.lake import LakeTable
from debezium_connector_db2_spark.plans.checks import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_pushed_filter,
    read_schema_columns,
)
from debezium_connector_db2_spark.schemas import PK_COLS, TRANSCRIPT_SCHEMA
from debezium_connector_db2_spark.sources.binlog import BinlogSource
from debezium_connector_db2_spark.sources.generator import (
    generate_binlog,
    generate_snapshot,
)
from debezium_connector_db2_spark.operators.dedup import latest_per_key

SF = "/root/testdata/sf0.001"


def test_lsn_range_filter_reaches_parquet_scan(spark, tmpdir_path):
    """S3 range scans must push commit_lsn bounds into the scan (the
    Spark analogue of the reference's (COMMITSEQ, INTENTSEQ) index) and
    prune lsn_bucket partitions."""
    binlog = generate_binlog(spark, n_ops=2000, n_convs=50, turns_per_conv=10, seed=9)
    src = BinlogSource(spark, os.path.join(tmpdir_path, "binlog"), bucket_size=16)
    src.write(binlog)
    df = src.read_range(40, 80)
    assert has_pushed_filter(df, "GreaterThanOrEqual(commit_lsn,40)"), formatted_plan(df)
    assert has_pushed_filter(df, "LessThanOrEqual(commit_lsn,80)")
    plan = formatted_plan(df)
    assert "lsn_bucket" in plan  # partition filters present


def test_column_pruning_on_projection(spark):
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    df = li.select("l_orderkey", "l_quantity").where(F.col("l_quantity") > 10)
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_registry_join_broadcasts(spark):
    nation = spark.read.parquet(os.path.join(SF, "nation.parquet"))
    region = spark.read.parquet(os.path.join(SF, "region.parquet"))
    df = nation.join(F.broadcast(region),
                     nation.n_regionkey == region.r_regionkey, "left")
    assert has_broadcast_join(df)


def test_dedup_agg_single_exchange(spark):
    """The A4 kernel must be one hash-aggregate shuffle (partial+final),
    not a window sort or multiple exchanges."""
    df = spark.range(1000).select(
        (F.col("id") % 50).alias("k"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("intent_seq"),
        F.col("id").cast("string").alias("v"),
    )
    latest = latest_per_key(df, ["k"], ("commit_lsn", "intent_seq"))
    assert count_exchanges(latest) == 1, formatted_plan(latest)
    plan = formatted_plan(latest)
    # max over a struct compiles to SortAggregate (struct-valued buffers
    # can't use the hash path) — the load-bearing property is the
    # map-side partial_max before the single exchange: a hot key is
    # pre-reduced inside every input partition, so the rows crossing the
    # wire per key are bounded by the partition count.
    assert "partial_max(struct(" in plan, "expected map-side partial aggregation"


def test_merge_on_read_read_single_exchange(spark, tmpdir_path):
    """A merge-on-read read resolves base + delta files with the same
    kernel: one exchange, whatever the number of files."""
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         TRANSCRIPT_SCHEMA, bucket_by="conv_id", n_buckets=4,
                         versioned=True, merge_mode="mor", key_cols=PK_COLS)
    snap = generate_snapshot(spark, n_convs=10, turns_per_conv=3, seed=1)
    t.overwrite(snap, position=(0, 0))
    t.append(snap, position=(1, 0))    # a delta over every key
    latest = t.read()
    assert count_exchanges(latest) == 1, formatted_plan(latest)


def test_media_native_decode_stays_jvm_side(spark):
    """The deterministic media decode must not contain a Python/Arrow
    stage (the 50× fast path); the Arrow slot is opt-in."""
    from debezium_connector_db2_spark.operators.multimodal import (
        decode_media, to_media)

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    media = to_media(docs, "doc_id", F.encode(F.col("text"), "UTF-8"))
    native = decode_media(media)
    assert "MapInPandas" not in formatted_plan(native)
    arrow = decode_media(media, native=False)
    assert "MapInPandas" in formatted_plan(arrow)


def test_ngram_df_cap_is_an_aggregated_semi_filter(spark):
    """The shingle df-cap must be a pre-aggregated filter on the shingle
    key (map-side combined count), not a row-preserving window over the
    full posting list."""
    from debezium_connector_db2_spark.operators.dedup_text import (
        ngram_jaccard_pairs)

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=2,
                                threshold=0.2, max_shingle_df=30)
    plan = formatted_plan(pairs)
    assert "Window" not in plan, "df-cap must not be a window function"
    assert "partial_count" in plan, "expected map-side combined df count"


def test_simhash_bucket_cap_semi_join(spark):
    """The bucket cap is a semi-join against a tiny aggregated count
    table, never a window over the exploded chunk rows."""
    from debezium_connector_db2_spark.operators.dedup_text import simhash_pairs

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    pairs = simhash_pairs(docs, "doc_id", "text", n_bits=60, max_hamming=3,
                          max_bucket_size=400)
    plan = formatted_plan(pairs)
    assert "Window" not in plan
    assert "LeftSemi" in plan, plan[:2000]


def test_minhash_band_bucket_cap_semi_join(spark):
    """The minhash band-bucket cap is also a semi-join against a tiny
    aggregated count table (AQE broadcasts it), never a window over the
    exploded band rows."""
    from debezium_connector_db2_spark.operators.dedup_text import (
        minhash_lsh_pairs)

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k_shingle=2,
                              n_hashes=16, bands=4, threshold=0.2,
                              max_band_bucket_size=400)
    plan = formatted_plan(pairs)
    assert "Window" not in plan
    assert "LeftSemi" in plan, plan[:2000]


def test_lm_score_vocab_join_broadcasts(spark):
    """The LM scoring join (corpus tokens ⋈ vocab) must broadcast the
    vocab side — the corpus never shuffles by word on the score path —
    and the per-doc reduction must be a map-side-combined sum (no
    Python stage anywhere)."""
    from debezium_connector_db2_spark.operators.lm_score import lm_score

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = lm_score(docs, "doc_id", "text")
    plan = formatted_plan(out)
    assert has_broadcast_join(out), plan[:2000]
    assert "partial_sum" in plan, "expected map-side partial per-doc sum"
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_ccnet_bucket_labels_broadcast_back(spark):
    """The CCNet split must label the corpus with a BROADCAST join from
    the tiny (lang, score)→bucket frame — never a corpus-wide sort or a
    percent_rank window over documents — and the histogram aggregate
    must map-side combine."""
    from debezium_connector_db2_spark.operators.lm_score import (
        ccnet_buckets)

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = ccnet_buckets(docs, "doc_id", "text", lang_col="lang")
    plan = formatted_plan(out)
    assert has_broadcast_join(out), plan[:2000]
    assert "partial_count" in plan, "histogram must map-side combine"
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # lang rides the per-doc aggregate (carry_cols): there must be NO
    # shuffle join anywhere — a SortMergeJoin would mean the corpus
    # re-joined docs just to fetch lang
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_incremental_near_probe_broadcasts_batch(spark, tmpdir_path):
    """The near-dup index probe must broadcast the (small) batch's band
    rows against the (huge) streaming index — same no-index-shuffle
    contract as the exact deduper's semi-probe — and verify candidates
    JVM-side (zip_with on signatures, no Python stage)."""
    from debezium_connector_db2_spark.operators.dedup_incremental import (
        IncrementalNearDeduper)

    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .select("doc_id", "text"))
    dd = IncrementalNearDeduper(
        spark, os.path.join(tmpdir_path, "nearidx"), n_buckets=4)
    dd.process_batch(docs.where(F.col("doc_id") % 2 == 0), "doc_id",
                     "text", batch_seq=1).collect()
    verdict = dd.process_batch(docs.where(F.col("doc_id") % 2 == 1),
                               "doc_id", "text", batch_seq=2)
    plan = formatted_plan(verdict)
    assert has_broadcast_join(verdict), plan[:2000]
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_classifier_serving_broadcasts_weights(spark):
    """NB classifier serving must broadcast the (n_buckets-bounded)
    weight table against the exploded corpus grams — the corpus never
    shuffles by gram — and stay fully JVM-side."""
    from debezium_connector_db2_spark.operators.classifier import (
        quality_classifier)

    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .withColumn("label", (F.col("lang") == "en").cast("int")))
    out = quality_classifier(docs, "doc_id", "text", "label")
    plan = formatted_plan(out)
    assert has_broadcast_join(out), plan[:2000]
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_incremental_dedup_probe_is_broadcast_semi(spark, tmpdir_path):
    """The index probe must be a broadcast LEFT SEMI against the batch's
    fingerprints: the (huge) index streams through with no shuffle of
    either side."""
    from debezium_connector_db2_spark.operators.dedup_incremental import (
        IncrementalDeduper)

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    d = IncrementalDeduper(spark, os.path.join(tmpdir_path, "fpi"),
                           n_buckets=4)
    d.process_batch(docs.limit(50), "doc_id", "text", 1)
    verdict = d.process_batch(docs, "doc_id", "text", 2)
    plan = formatted_plan(verdict)
    assert "LeftSemi" in plan, plan[:2000]
    assert has_broadcast_join(verdict), plan[:2000]


def test_substring_pairs_no_cartesian(spark):
    """Verbatim-span pairing must stay an equi-join on the window hash —
    never a nested-loop/cartesian expansion — and the streak chaining
    windows only the (bounded) hit set after the join."""
    from debezium_connector_db2_spark.operators.dedup_substring import (
        substring_pairs)

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    pairs = substring_pairs(docs, "doc_id", "text", k=8)
    plan = formatted_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filtered_ann_pushes_label_predicate(spark):
    """Metadata-filtered ANN: the label predicate must reach the parquet
    scan (PushedFilters), not run post-scan over all vectors."""
    import __spark_entry__ as entrymod

    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    df = qs["ann_filtered_topk"](spark, SF)
    assert has_pushed_filter(df, "LessThanOrEqual(label,2)"), \
        formatted_plan(df)[:2000]


def test_filtered_ivf_pushes_label_and_bounds_probes(spark):
    """Filtered ANN in the IVF shape: the label predicate must reach
    the parquet scan (items are filtered BEFORE cell assignment), and
    candidate generation must stay a cell equi-join — never a
    nested-loop over all surviving items per query."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["ann_filtered_ivf"](spark, SF)
    plan = formatted_plan(df)
    assert has_pushed_filter(df, "LessThanOrEqual(label,2)"), plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filtered_ivf_recall_vs_brute(spark):
    """The IVF-composed filtered row must agree with the filtered
    brute-force baseline on most of the true top-k (recall is the only
    quality axis LSH/IVF trade; precision is exact by construction)."""
    import __spark_entry__ as entrymod

    brute = entrymod.queries()["ann_filtered_topk"](spark, SF)
    ivf = entrymod.queries()["ann_filtered_ivf"](spark, SF)
    want = {(r.query_id, r.item_id) for r in brute.collect()}
    got = {(r.query_id, r.item_id) for r in ivf.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.5, f"recall {recall:.2f} ({len(want)} true pairs)"
    # every IVF hit is a genuinely filtered item (label pushed, not
    # post-filtered): cross-check against the raw table
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    ok_items = {r.vec_id for r in emb.where("label <= 2").collect()}
    assert all(i in ok_items for _, i in got)
