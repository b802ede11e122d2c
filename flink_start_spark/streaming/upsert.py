"""Streaming keyed upsert (MERGE) sink — the streaming twin of the
batch CDC family in ``plans/cdc.py``.

The reference (mainul098/flink-start) declares JDBC/Cassandra sinks it
never exercises (build.sbt:21-23); keyed upsert is what those sinks are
FOR — maintain a latest-state-per-key table from an event stream. On
Spark, the portable form is ``foreachBatch`` + a deterministic merge:
each micro-batch is reduced to its latest row per key, merged against
the current store, and the store is swapped in through a temp sibling
and two renames, with crash recovery (``operators.layout.swap_rewrite``,
shared with small-file compaction).

Exactly-once: Structured Streaming may REPLAY a micro-batch after a
failure (foreachBatch is at-least-once). The merge is idempotent by
construction — ``max(struct(order_cols…, payload))`` per key over
(store ∪ batch) gives the same result no matter how many times a batch
is applied — so replays converge instead of duplicating; that is the
standard foreachBatch MERGE recipe (the Delta `MERGE INTO` pattern,
minus the table format).

Scale shape: the per-batch reduce is one map-side-combined groupBy of
the MICRO-BATCH (small by definition); the merge joins store ∪ batch
grouped on the unbounded key — at warehouse scale the store side would
be a bucketed table so the merge shuffles only the batch (or a real
table format's MERGE); here the full-rewrite store is the portable
test/sandbox form and says so.
"""

from __future__ import annotations

import glob as _glob
import os as _os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_start_spark.operators.layout import swap_rewrite

__all__ = ["latest_per_key", "merge_batch", "upsert_parquet_sink"]


def latest_per_key(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Reduce to one row per key: the row with the greatest
    ``order_cols`` tuple (ties impossible when the tuple ends in a
    unique column — pass one, e.g. an event id). Pure aggregate
    (max of struct) — no window, no sort, map-side combinable."""
    payload = [c for c in df.columns if c not in key_cols]
    m = F.max(
        F.struct(*[F.col(c) for c in order_cols],
                 F.struct(*[F.col(c) for c in payload]).alias("_p"))
    ).alias("_m")
    out = df.groupBy(*key_cols).agg(m)
    return out.select(
        *key_cols, *[F.col(f"_m._p.{c}").alias(c) for c in payload]
    )


def merge_batch(
    batch: DataFrame, path: str, key_cols: list[str], order_cols: list[str]
) -> None:
    """Merge one micro-batch into the latest-row-per-key parquet store at
    ``path`` (the ``foreachBatch`` body; idempotent under replay). A
    crashed prior swap is restored BEFORE the store is read, or the
    merge would silently restart from an empty store."""
    with swap_rewrite(path, "upsert") as tmp:
        upd = latest_per_key(batch, key_cols, order_cols)
        if _os.path.exists(path) and _glob.glob(_os.path.join(path, "part-*")):
            cur = batch.sparkSession.read.parquet(path).select(*upd.columns)
            merged = latest_per_key(cur.unionByName(upd), key_cols, order_cols)
        else:
            merged = upd
        merged.write.mode("overwrite").parquet(tmp)


def upsert_parquet_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    order_cols: list[str],
):
    """Start an availableNow foreachBatch query that maintains a
    latest-row-per-key parquet store at ``path``. Returns the started
    StreamingQuery (caller awaits termination)."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch, _id: merge_batch(batch, path, key_cols, order_cols)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
