"""Physical-layout operators: Z-order clustering keys and bucketed
tables — the two levers that decide whether a 100 TB table scans or
skips.

**Z-order** (Morton interleave): bit-interleaving two quantized
dimension keys produces a 1-D sort key whose ranges are small
rectangles in (x, y) space. Sorting/range-partitioning the table by it
makes BOTH columns' parquet min/max row-group stats tight at once, so
predicates on either dimension prune files — the Delta/Iceberg
``OPTIMIZE ZORDER BY`` mechanic, built here from plain column
expressions (codegen'd shifts, no UDF). The key construction is pure
integer arithmetic, so the DuckDB oracle reproduces it bit-for-bit.

**Bucketed tables**: ``write_bucketed`` persists a table hash-bucketed
and sorted by its join key; two tables bucketed the same way then
sort-merge join with ZERO exchanges (plan-asserted in
tests/test_layout.py) — the pre-shuffle that amortizes one write-time
shuffle across every future join/aggregation on that key. At 100 TB
this is the difference between an 80 TB shuffle per join and none.
"""

from __future__ import annotations

import glob as _glob
import os as _os
import shutil as _shutil
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per dimension in the interleaved key (2 dims × 16 = 32-bit key)
ZORDER_BITS = 16


def quantize(col: Column, bits: int = ZORDER_BITS, sig_bits: int | None = None) -> Column:
    """Map a non-negative integer key into [0, 2^bits) — modulo, not
    min-max scaling, so the mapping is stateless/deterministic (no
    global min/max pass) and identical on any engine.

    ``sig_bits`` declares the dimension's significant bit-width; the
    value is then shifted up so its MSB aligns with the key's MSB.
    Interleaving only balances dimensions whose MSBs coincide —
    unaligned, the wider dimension monopolizes the top interleaved
    bits and the narrow one never partitions (measured: suppkey
    [0,16) against partkey [0,256) left every z-range spanning ALL
    suppkeys). Production z-order gets this alignment from
    range-ranking; declared widths are the stateless equivalent."""
    q = col.cast("long") % F.lit(1 << (sig_bits or bits))
    if sig_bits and sig_bits < bits:
        q = F.shiftleft(q, bits - sig_bits)
    return q


def zorder_key(
    x: Column,
    y: Column,
    bits: int = ZORDER_BITS,
    x_bits: int | None = None,
    y_bits: int | None = None,
) -> Column:
    """Morton (Z-order) interleave of two quantized keys: bit j of x
    lands at position 2j+1, bit j of y at 2j. A fixed sum of
    shift/mask terms — whole-stage-codegen'd, no UDF, no shuffle."""
    qx, qy = quantize(x, bits, x_bits), quantize(y, bits, y_bits)
    terms = []
    for j in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(qx, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
        terms.append(F.shiftleft(F.shiftright(qy, j).bitwiseAND(F.lit(1)), 2 * j))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def zorder_layout(
    df: DataFrame,
    x: str,
    y: str,
    bits: int = ZORDER_BITS,
    partitions: int | None = None,
    x_bits: int | None = None,
    y_bits: int | None = None,
) -> DataFrame:
    """Range-partition + sort the frame by its Z-order key — the write
    path of an OPTIMIZE ZORDER: each output file then covers a small
    (x, y) rectangle, so min/max stats prune on both columns. One
    range-exchange (sampled bounds), then a partition-local sort."""
    keyed = df.withColumn(
        "_z", zorder_key(F.col(x), F.col(y), bits, x_bits, y_bits)
    )
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        keyed.repartitionByRange(n, "_z").sortWithinPartitions("_z").drop("_z")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Persist ``df`` hash-bucketed AND sorted by ``keys``: the one
    write-time shuffle that every later equi-join/aggregation on
    ``keys`` skips (bucketed scans report the join distribution, so the
    planner drops both Exchanges and both Sorts). ``path`` overrides
    the warehouse location (tests use a tmp dir)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *keys).sortBy(*keys)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_files_per_partition: int = 1,
) -> None:
    """Persist ``df`` hive-partitioned by ``partition_cols`` — the
    coarse-pruning layout every 100 TB fact table uses (typically a
    date/region column of O(10^2..10^4) values; NEVER a high-cardinality
    key, which would explode the file count).

    What it buys at scale, both enforced by tests/test_layout.py:

    - **static pruning**: a literal predicate on a partition column
      becomes a directory listing cut — the scan's PartitionFilters,
      zero data read outside matching directories;
    - **dynamic partition pruning (DPP)**: a JOIN to a filtered
      dimension prunes fact partitions at RUNTIME — Spark plans a
      ``dynamicpruning`` subquery on the broadcast side and skips fact
      partitions whose keys the dimension filter eliminated. This is
      the single biggest scan lever for star-schema joins on
      partitioned facts (TPC-DS-style plans routinely skip >90 % of
      partitions).

    The pre-write ``repartition(partition_cols [, salt])`` co-locates
    each partition's rows so every partition directory gets
    ``max_files_per_partition`` file(s) instead of one file per
    (task x partition) — the small-files hazard of naive partitionBy
    writes. ``max_files_per_partition > 1`` adds a hash salt so a huge
    partition still writes in parallel.
    """
    cols: list = [F.col(c) for c in partition_cols]
    if max_files_per_partition > 1:
        cols.append(
            F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]),
                F.lit(max_files_per_partition),
            )
        )
    (
        df.repartition(*cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


@contextmanager
def swap_rewrite(path: str, tag: str):
    """Rewrite the directory ``path`` in place through a temp sibling and
    a rename swap; yields the temp path the body must write.

    On entry a crashed prior swap is repaired first: a failure between
    the two renames leaves the only copy at ``<path>._<tag>_old``, so it
    is renamed back to ``path`` BEFORE the stale ``._<tag>_tmp`` /
    ``._<tag>_old`` siblings are removed (removing first would delete
    the data). If the body raises, ``path`` is left untouched."""
    base = path.rstrip("/")
    tmp, old = f"{base}._{tag}_tmp", f"{base}._{tag}_old"
    if not _os.path.exists(path) and _os.path.exists(old):
        _os.rename(old, path)
    for stale in (tmp, old):
        if _os.path.exists(stale):
            _shutil.rmtree(stale)
    yield tmp
    if _os.path.exists(path):
        _os.rename(path, old)
    _os.rename(tmp, path)
    if _os.path.exists(old):
        _shutil.rmtree(old)


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> dict:
    """Small-file compaction — the table-maintenance pass every
    long-lived 100 TB table needs. Streaming sinks and fine-grained
    ingest leave thousands of KB-scale parquet files; each costs a
    task, a footer read, and an open/close round-trip, so scan cost
    becomes file-count-bound instead of byte-bound (the classic
    small-files problem; Delta/Iceberg ``OPTIMIZE`` is this operator).

    Rewrites ``path`` in place to ``ceil(bytes / target_file_bytes)``
    files. Without a clustering key the rewrite is a round-robin
    ``repartition`` (even output sizes, no data-dependent skew). With
    ``sort_within_by`` it is ``repartitionByRange`` + local sort:
    round-robin scatters every key range across every output file, so
    a within-file sort alone CANNOT tighten min/max spans (measured —
    spans stayed at the full keyspace); range partitioning gives each
    file one contiguous key slice, which is what restores parquet
    min/max skipping. The rewrite goes through a temp sibling directory
    then a rename swap: readers see old-or-new files, never a
    half-written mix — but there IS a brief window between the two
    renames where ``path`` itself is absent (local-FS rename gives no
    two-directory atomic swap; concurrent readers should retry ENOENT,
    and a real lakehouse deployment would use a table format's commit
    protocol instead). A crashed prior run is repaired at entry
    (``swap_rewrite``), so a retry always succeeds and loses no rows.

    Only FLAT directories are supported: a partitioned (nested
    key=value) layout would be silently flattened by the read-rewrite,
    so it is refused with ``ValueError``.

    Returns ``{"files_before", "files_after", "bytes"}``. Content is
    preserved row-for-row (pinned by tests/test_layout.py).
    """
    with swap_rewrite(path, "compact") as tmp:
        subdirs = [
            d
            for d in _glob.glob(_os.path.join(path, "*"))
            if _os.path.isdir(d) and not _os.path.basename(d).startswith("_")
        ]
        if subdirs:
            raise ValueError(
                f"compact_small_files supports flat directories only; {path} "
                f"contains partition-like subdirectories (e.g. {subdirs[0]}) "
                "whose structure an in-place rewrite would flatten"
            )
        files = [
            f
            for f in _glob.glob(_os.path.join(path, "*.parquet"))
            + _glob.glob(_os.path.join(path, "part-*"))
            if _os.path.isfile(f)
        ]
        total = sum(_os.path.getsize(f) for f in set(files))
        n_out = max(1, -(-total // target_file_bytes))
        df = spark.read.parquet(path)
        if sort_within_by:
            df = df.repartitionByRange(n_out, *sort_within_by).sortWithinPartitions(
                *sort_within_by
            )
        else:
            df = df.repartition(n_out)
        df.write.mode("overwrite").parquet(tmp)
    after = len(
        [f for f in _glob.glob(_os.path.join(path, "part-*")) if _os.path.isfile(f)]
    )
    return {"files_before": len(set(files)), "files_after": after, "bytes": total}
