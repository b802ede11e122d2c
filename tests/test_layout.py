"""Physical-layout operators (operators/layout.py): bucketed tables
join with zero exchanges; Z-order layout makes parquet min/max stats
prune on both dimensions.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flink_start_spark.operators import layout as L
from flink_start_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_zorder_key_matches_python_reference(spark):
    rows = (
        spark.range(0, 300, 7)
        .select(
            F.col("id").alias("x"),
            (F.col("id") * 13 % 997).alias("y"),
            L.zorder_key(F.col("id"), F.col("id") * 13 % 997).alias("z"),
        )
        .collect()
    )

    def interleave(x, y, bits=16):
        x, y = x % (1 << bits), y % (1 << bits)
        out = 0
        for j in range(bits):
            out |= ((x >> j) & 1) << (2 * j + 1)
            out |= ((y >> j) & 1) << (2 * j)
        return out

    for r in rows:
        assert r["z"] == interleave(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_layout_tightens_file_stats(spark, tmp_path):
    # Empirical data-skipping proof: after zorder_layout, each output
    # file covers a small rectangle in BOTH dimensions, so the summed
    # per-file min/max ranges shrink vs the natural (orderkey) layout —
    # that range sum is exactly what parquet row-group pruning keys on.
    li = load_table(spark, "lineitem", SF_DIR).select("l_partkey", "l_suppkey")
    naive_dir, z_dir = str(tmp_path / "naive"), str(tmp_path / "zorder")
    li.repartition(16).write.mode("overwrite").parquet(naive_dir)
    # declared bit-widths MSB-align the 8-bit partkey and 4-bit suppkey
    # so the interleave partitions BOTH dimensions (see quantize())
    L.zorder_layout(
        li, "l_partkey", "l_suppkey", partitions=16, x_bits=8, y_bits=4
    ).write.mode("overwrite").parquet(z_dir)

    def range_frac(d, col):
        spans, lo_all, hi_all = [], None, None
        for f in glob.glob(os.path.join(d, "*.parquet")):
            md = pq.read_metadata(f)
            if md.num_rows == 0:
                continue
            idx = {md.schema.column(j).name: j for j in range(md.num_columns)}[col]
            stats = [
                md.row_group(i).column(idx).statistics
                for i in range(md.num_row_groups)
            ]
            lo, hi = min(s.min for s in stats), max(s.max for s in stats)
            spans.append(hi - lo)
            lo_all = lo if lo_all is None else min(lo_all, lo)
            hi_all = hi if hi_all is None else max(hi_all, hi)
        # average per-file span as a fraction of the global range
        return (sum(spans) / len(spans)) / max(hi_all - lo_all, 1)

    for col in ("l_partkey", "l_suppkey"):
        naive, z = range_frac(naive_dir, col), range_frac(z_dir, col)
        # random layout: every file spans ~the full range (frac ≈ 1);
        # z-order: 16 files ≈ 4 z-bits → each dimension split ~4 ways
        # (range-partitioner boundaries are sampled, hence the slack)
        assert naive > 0.8, (col, naive)
        assert z < 0.55 * naive, (col, naive, z)


def test_bucketed_join_has_zero_exchanges(spark, tmp_path):
    orders = load_table(spark, "orders", SF_DIR).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, "lineitem", SF_DIR).select(
        "l_orderkey", "l_quantity"
    )
    try:
        L.write_bucketed(
            orders, "t_orders_b", ["o_orderkey"], 8, path=str(tmp_path / "ob")
        )
        L.write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "t_lineitem_b",
            ["o_orderkey"],
            8,
            path=str(tmp_path / "lb"),
        )
        ob, lb = spark.table("t_orders_b"), spark.table("t_lineitem_b")
        with_bucket = ob.join(lb, "o_orderkey").groupBy("o_orderkey").agg(
            F.sum("l_quantity").alias("qty"), F.first("o_totalprice").alias("tp")
        )
        # force sort-merge so the test can't pass via broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = with_bucket._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # and the result is still correct vs the unbucketed join
            expect = (
                orders.join(li, orders.o_orderkey == li.l_orderkey)
                .groupBy("o_orderkey")
                .count()
                .count()
            )
            assert with_bucket.count() == expect
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_compact_small_files_preserves_content(spark, tmp_path):
    """Compaction collapses a many-small-file table to few files with
    identical content; readers see old-or-new, never a mix."""
    from flink_start_spark.operators.layout import compact_small_files

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") % 97)
    df.repartition(64).write.parquet(path)  # 64 tiny files
    before = spark.read.parquet(path)
    expected = sorted((r["id"], r["v"]) for r in before.collect())

    stats = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] >= 64
    assert stats["files_after"] < stats["files_before"]
    got = sorted((r["id"], r["v"]) for r in spark.read.parquet(path).collect())
    assert got == expected


def test_compact_recovers_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the table only at
    ._compact_old (plus a half-written ._compact_tmp); the retry must
    restore it before cleaning the stale siblings, not delete it."""
    import os

    from flink_start_spark.operators.layout import compact_small_files

    path = str(tmp_path / "store")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    os.rename(path, path + "._compact_old")
    os.mkdir(path + "._compact_tmp")  # the unpromoted rewrite

    stats = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert stats["files_after"] == 1
    got = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert got == list(range(1000))
    assert not os.path.exists(path + "._compact_old")
    assert not os.path.exists(path + "._compact_tmp")


def test_compact_sort_within_restores_minmax_spans(spark, tmp_path):
    """sort_within_by re-clusters rows so per-file min/max spans shrink
    versus the shuffled layout (what makes skipping work again)."""
    import glob
    import pyarrow.parquet as pq

    from flink_start_spark.operators.layout import compact_small_files

    path = str(tmp_path / "clust")
    spark.range(0, 50_000).withColumn("k", F.col("id")).repartition(32).write.parquet(
        path
    )
    compact_small_files(spark, path, target_file_bytes=200_000, sort_within_by=["k"])
    spans = []
    for f in glob.glob(path + "/part-*.parquet"):
        md = pq.read_metadata(f)
        lo = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        spans.append(hi - lo)
    assert len(spans) >= 2
    # each sorted output file covers ~1/n of the keyspace, not all of it
    assert max(spans) < 50_000 / 2


def test_partitioned_write_static_pruning(spark, tmp_path):
    """A literal predicate on the partition column becomes a directory
    cut: PartitionFilters carries it and only matching files scan."""
    from flink_start_spark.operators.layout import write_partitioned

    fact = spark.range(20_000).select(
        F.col("id"), (F.col("id") % 20).alias("day")
    )
    path = str(tmp_path / "fact")
    write_partitioned(fact, path, ["day"])
    got = spark.read.parquet(path).where(F.col("day") == 3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan and "PartitionFilters" in scan[0]
    # the predicate must sit INSIDE the PartitionFilters group (the
    # column name also appears in the output list, so a whole-line
    # substring check would be vacuous — round-5 review catch)
    import re as _re

    pf = scan[0].split("PartitionFilters:", 1)[1].split("]", 1)[0]
    pf_norm = _re.sub(r"#\d+L?", "", pf)
    assert "(day = 3)" in pf_norm, pf
    assert got.count() == 1000
    # one file per partition directory (the small-files guard);
    # inputFiles() reports the RELATION's files, pre-pruning
    import collections

    dirs = collections.Counter(
        f.rsplit("/", 1)[0] for f in spark.read.parquet(path).inputFiles()
    )
    assert len(dirs) == 20 and set(dirs.values()) == {1}, dirs


def test_partitioned_join_dynamic_partition_pruning(spark, tmp_path):
    """DPP: a join to a FILTERED dimension prunes fact partitions at
    runtime — the plan carries a dynamicpruning subquery on the fact
    scan's partition filters, and the answer matches the unpruned
    computation. The star-schema scan lever at 100 TB."""
    from flink_start_spark.operators.layout import write_partitioned

    fact = spark.range(20_000).select(
        F.col("id"), (F.col("id") % 20).alias("day"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    path = str(tmp_path / "fact_dpp")
    write_partitioned(fact, path, ["day"])
    dim = spark.range(20).select(
        F.col("id").alias("day"),
        F.when(F.col("id") < 3, "keep").otherwise("drop").alias("flag"),
    )
    f = spark.read.parquet(path)
    joined = f.join(dim.where(F.col("flag") == "keep"), "day").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:800]
    row = joined.collect()[0]
    assert row["n"] == 3000
    want = fact.where(F.col("day") < 3).agg(F.sum("v")).collect()[0][0]
    assert row["sv"] == want
