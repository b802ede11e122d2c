"""Two-phase exact selection (operators/selection.py): equivalence to
the naive rank-window forms on tie-heavy and skewed data, plus the plan
property the helper exists for — NO window ever partitions by the bare
low-cardinality key (the single-reducer hazard of SURVEY §4).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_start_spark import cache as C
from flink_start_spark.operators import selection as S

from tests.test_plan_quality import _LOW_CARD_COLS, _window_specs


@pytest.fixture(scope="module")
def skewed(spark):
    """Tie-heavy, HOT-KEY-skewed fixture: key 'en' holds ~90% of rows
    (the one-language-dominates-the-corpus shape), values drawn from a
    small lattice so duplicate values are common and rank ties real."""
    random.seed(20260814)
    rows = []
    for i in range(9000):
        rows.append(("en", f"id{i:06d}", round(random.random() * 40) / 7.0))
    for i in range(9000, 10000):
        k = ("de", "fr", "es", "zh")[i % 4]
        rows.append((k, f"id{i:06d}", round(random.random() * 40) / 7.0))
    df = spark.createDataFrame(rows, "lang string, doc_id string, v double")
    df.cache()
    df.count()
    yield df
    df.unpersist()


def _naive_median(df):
    wo = Window.partitionBy("lang").orderBy("v", "doc_id")
    wc = Window.partitionBy("lang")
    return (
        df.withColumn("_rn", F.row_number().over(wo))
        .withColumn("_cnt", F.count("*").over(wc))
        .filter(F.col("_rn") == F.floor((F.col("_cnt") + 1) / 2))
        .select("lang", F.col("v").alias("med"), "_cnt")
    )


def test_exact_rank_value_median_matches_window(spark, skewed):
    naive = {r["lang"]: (r["med"], r["_cnt"]) for r in _naive_median(skewed).collect()}
    got = S.exact_rank_value(skewed, ["lang"], "v", out_col="med")
    mine = {r["lang"]: (r["med"], r["_gcnt"]) for r in got.collect()}
    C.release()
    assert naive == mine


def test_exact_rank_value_arbitrary_rank(spark, skewed):
    rank = lambda c: F.greatest(F.lit(1), F.floor(c * 9 / 10))  # noqa: E731
    wo = Window.partitionBy("lang").orderBy("v", "doc_id")
    wc = Window.partitionBy("lang")
    naive = {
        r["lang"]: r["v"]
        for r in skewed.withColumn("_rn", F.row_number().over(wo))
        .withColumn("_cnt", F.count("*").over(wc))
        .filter(
            F.col("_rn") == F.greatest(F.lit(1), F.floor(F.col("_cnt") * 9 / 10))
        )
        .select("lang", "v")
        .collect()
    }
    got = S.exact_rank_value(skewed, ["lang"], "v", rank_fn=rank, out_col="v")
    mine = {r["lang"]: r["v"] for r in got.collect()}
    C.release()
    assert naive == mine


def test_exact_quantile_values_match_windows(spark, skewed):
    """Multi-rank path: p25/p50/p75 from ONE histogram pass equal the
    per-rank window picks at rank max(1, ceil(p*cnt))."""
    wo = Window.partitionBy("lang").orderBy("v", "doc_id")
    wc = Window.partitionBy("lang")
    ranked = skewed.withColumn("_rn", F.row_number().over(wo)).withColumn(
        "_cnt", F.count("*").over(wc)
    )
    naive = {}
    for p in (0.25, 0.50, 0.75):
        rows = ranked.filter(
            F.col("_rn")
            == F.greatest(F.lit(1), F.ceil(F.lit(p) * F.col("_cnt")).cast("long"))
        ).collect()
        for r in rows:
            naive[(r["lang"], p)] = (r["v"], r["_cnt"])
    got = S.exact_quantile_values(
        skewed, ["lang"], "v", [0.25, 0.50, 0.75], out_col="qv"
    )
    mine = {
        (r["lang"], r["_prob"]): (r["qv"], r["_gcnt"]) for r in got.collect()
    }
    C.release()
    assert naive == mine
    # monotone sanity: per key, p25 <= p50 <= p75
    by_key = {}
    for (k, p), (v, _) in mine.items():
        by_key.setdefault(k, {})[p] = v
    for k, qs in by_key.items():
        assert qs[0.25] <= qs[0.50] <= qs[0.75], (k, qs)


def test_with_global_rank_and_ntile_match_window(spark, skewed):
    w = Window.partitionBy("lang").orderBy("v", "doc_id")
    naive = sorted(
        (r["lang"], r["doc_id"], r["rn"], r["tile"])
        for r in skewed.select(
            "lang",
            "doc_id",
            F.row_number().over(w).alias("rn"),
            F.ntile(10).over(w).alias("tile"),
        ).collect()
    )
    ranked = S.with_global_rank(skewed, ["lang"], "v", ["doc_id"])
    mine = sorted(
        (r["lang"], r["doc_id"], r["_grank"], r["tile"])
        for r in ranked.withColumn(
            "tile", S.ntile_from_rank(F.col("_grank"), F.col("_gcnt"), 10)
        ).collect()
    )
    assert naive == mine


def test_ntile_more_tiles_than_rows(spark):
    df = spark.createDataFrame(
        [("k", f"i{j}", float(j % 3)) for j in range(5)],
        "lang string, doc_id string, v double",
    )
    w = Window.partitionBy("lang").orderBy("v", "doc_id")
    naive = sorted(
        (r["doc_id"], r["t"])
        for r in df.select("doc_id", F.ntile(7).over(w).alias("t")).collect()
    )
    ranked = S.with_global_rank(df, ["lang"], "v", ["doc_id"])
    mine = sorted(
        (r["doc_id"], r["t"])
        for r in ranked.select(
            "doc_id",
            S.ntile_from_rank(F.col("_grank"), F.col("_gcnt"), 7).alias("t"),
        ).collect()
    )
    assert naive == mine


def test_prefix_sum_matches_window(spark, skewed):
    base = skewed.withColumn("toks", (F.length("doc_id") + F.col("v")).cast("long"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id_num")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    num = base.withColumn(
        "doc_id_num", F.substring("doc_id", 3, 6).cast("long")
    )
    naive = sorted(
        (r["lang"], r["doc_id_num"], r["c"])
        for r in num.select(
            "lang", "doc_id_num", F.sum("toks").over(w).alias("c")
        ).collect()
    )
    mine = sorted(
        (r["lang"], r["doc_id_num"], r["c"])
        for r in S.with_prefix_sum(
            num, ["lang"], "doc_id_num", "toks", out_col="c"
        ).collect()
    )
    assert naive == mine


def test_global_rank_and_sum_unkeyed(spark, skewed):
    """Empty keys = the non-keyed count-trigger shape: global arrival
    rank + running conditional sum, no global sort task."""
    num = skewed.withColumn("n", F.substring("doc_id", 3, 6).cast("long"))
    w = Window.orderBy("n")
    naive = sorted(
        (r["n"], r["rn"], r["c"])
        for r in num.select(
            "n",
            F.row_number().over(w).alias("rn"),
            F.sum((F.col("v") > 2.0).cast("int"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("c"),
        ).collect()
    )
    slim = num.select("n", (F.col("v") > 2.0).cast("int").alias("_hit"))
    got = S.with_rank_and_sum(slim, [], "n", "_hit", out_rank="rn", out_sum="c")
    mine = sorted((r["n"], r["rn"], r["c"]) for r in got.collect())
    assert naive == mine
    # and the plan has no global-sort window: every Window node's
    # partition spec includes the bucket column
    plan = got._jdf.queryExecution().executedPlan().toString()
    for kind, cols, has_order in _window_specs(plan):
        if kind == "Window":
            assert "_bkt" in cols, (cols, has_order)


def test_all_equal_values_key(spark):
    df = spark.createDataFrame(
        [("z", f"i{i}", 5.0) for i in range(100)],
        "lang string, doc_id string, v double",
    )
    got = S.exact_rank_value(df, ["lang"], "v", out_col="med").collect()
    C.release()
    assert got[0]["med"] == 5.0 and got[0]["_gcnt"] == 100


def test_skewed_plan_has_no_hot_key_window(spark, skewed):
    """The 100x-scale property itself: on the 90%-hot-key fixture, no
    Window in any selection-helper plan partitions by the bare hot key
    — partition specs always include the value bucket, so the hot
    language's rows spread across ~1024 sort partitions."""
    plans = [
        S.exact_rank_value(skewed, ["lang"], "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString(),
        S.with_global_rank(skewed, ["lang"], "v", ["doc_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString(),
    ]
    C.release()
    for plan in plans:
        for kind, cols, has_order in _window_specs(plan):
            if kind != "Window":
                continue
            assert not all(c in _LOW_CARD_COLS for c in cols) or "_bkt" in cols, (
                cols,
                has_order,
            )


def test_exact_rank_value_preserves_integral_type(spark):
    """Regression: a hard-coded double accumulator coerced long value
    columns (wrong output type, lossy past 2^53)."""
    from flink_start_spark import cache
    from flink_start_spark.operators.selection import exact_rank_value

    big = 2**60  # not representable as a double
    rows = [("a", big + i) for i in range(5)]
    df = spark.createDataFrame(rows, "k string, v long")
    out = exact_rank_value(df, ["k"], "v", out_col="med")
    assert dict(out.dtypes)["med"] == "bigint"
    assert out.collect()[0]["med"] == big + 2  # exact median, no rounding
    cache.release()


def test_with_rank_and_sum_contract_guards(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "n long, v double"
    )
    # value_col without out_sum: the running sum the caller asked for
    # would silently vanish — must raise, not ignore
    with pytest.raises(ValueError, match="together"):
        S.with_rank_and_sum(df, [], "n", "v", out_rank="rn")
    # decimal values: a double accumulator would silently lose the
    # precision a plain window SUM keeps — must raise with guidance
    dec = df.select("n", F.col("v").cast("decimal(18,2)").alias("v"))
    with pytest.raises(ValueError, match="decimal"):
        S.with_rank_and_sum(dec, [], "n", "v", out_rank="rn", out_sum="s")


def test_exact_rank_value_rejects_out_of_range_rank(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0)], "k string, v double"
    )
    bad = S.exact_rank_value(df, ["k"], "v", rank_fn=lambda cnt: cnt + 1)
    with pytest.raises(Exception, match="out-of-range rank"):
        bad.collect()
    # in-range custom rank still exact: rank 3 of 3 = max
    got = S.exact_rank_value(
        df, ["k"], "v", rank_fn=lambda cnt: cnt, out_col="v_at"
    ).collect()
    assert got[0]["v_at"] == 3.0
