"""Per-key last-writer-wins dedup — the A4 kernel (SURVEY.md §2.4).

The reference guarantees a global total order (serial k-way merge,
``Db2StreamingChangeEventSource.java:183-201``) so that the *last* event
per PK wins in the compacted Kafka topic.  Our engine is data-parallel, so
the same contract is restated per key: reduce to the single row with the
greatest ``order_cols`` per key.  Final table state is identical because
MERGE keyed on PK is order-insensitive across keys.

``latest_per_key`` is the engine's only per-key winner: the batch dedup
of both frontends and the lake's merge-on-read read and versioned MERGE
(on ``(__commit_lsn, __intent_seq)``).  One formulation,
``max(struct(*order_cols, *rest))`` per key — an aggregate with
**map-side partial combine**, so a hot conversation (Zipf skew) is
pre-reduced inside every input partition before the shuffle; the rows per
key that cross the wire are bounded by the partition count, not by the
key's row count.  An exact position tie (impossible from a correct
engine, possible from hand-written rows) resolves on the remaining
fields, so the winner depends only on the input rows, never on their
order.  (Physically it compiles to SortAggregate — struct-valued buffers
can't use the hash path — but the single exchange + the partial ``max``
is what matters; benched ~3× faster than a ``row_number()`` window, which
also lands a hot key on one reducer.  Pinned by tests/test_plans.py.)

``strategy="salted"`` applies the same kernel twice, per ``(key, __salt)``
and then per key — the two-phase technique for aggregates that lack
map-side combine; the max of the per-salt maxima is the same winner.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from debezium_connector_db2_spark.schemas import PK_COLS


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str] = tuple(PK_COLS),
    order_cols: Sequence[str] = ("commit_lsn", "intent_seq"),
    strategy: str = "agg",
    n_salts: int = 16,
) -> DataFrame:
    """One row per key: the row with max ``order_cols`` (lexicographic),
    ties broken on the remaining columns."""
    if strategy not in ("agg", "salted"):
        raise ValueError(f"unknown dedup strategy {strategy!r}")

    if strategy == "salted":
        # The salt spreads one hot key over n_salts reducers; it hashes
        # the position, so rows tied on it share a salt.
        salted = df.withColumn(
            "__salt", F.pmod(F.xxhash64(*order_cols), F.lit(n_salts)))
        per_salt = latest_per_key(salted, [*key_cols, "__salt"], order_cols)
        return latest_per_key(per_salt.drop("__salt"), key_cols, order_cols)

    rest = [c for c in df.columns if c not in key_cols and c not in order_cols]
    ordered = [*order_cols, *rest]
    return (
        df.groupBy(*key_cols)
        .agg(F.max(F.struct(*ordered)).alias("__w"))
        .select(*key_cols, *[F.col("__w")[c].alias(c) for c in ordered])
        .select(*df.columns)
    )
