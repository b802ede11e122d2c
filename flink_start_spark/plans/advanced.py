"""Advanced relational surface: time-series joins (as-of, range),
window frames, pivot, and additional TPC-H-style join shapes.

None of these exist in the reference (SURVEY §2 lists joins/analytics as
absent categories); they complete the surface a user would expect from a
general analytics engine, each oracle-checked (DuckDB has a native ASOF
JOIN, which makes it an ideal referee for our composed implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_start_spark.operators.joins import as_of_join, range_join
from flink_start_spark.operators.skew import salted_count_distinct
from flink_start_spark.plans.catalog import _register, floor_div_sql, money_sum
from flink_start_spark.sources.catalog import load_table


@_register(
    "skewproof_distinct_users",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_distinct,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    description=(
        "Skew-proof exact count-distinct: two-phase salted aggregation "
        "(salt = hash(distinct value) % 32, so per-salt distinct sets "
        "are disjoint and sum exactly). event_type has 5 values — the "
        "reference's keyBy hot-key hazard (SURVEY §4); the salt spreads "
        "each hot key over 32 reducers. Oracle is the plain distinct "
        "count: exactness is the claim."
    ),
    tags=("aggregation", "skew", "custom-operator"),
)
def q_skewproof_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n_events"))
    distinct = salted_count_distinct(ev, ["event_type"], "user_id", n_salts=32)
    return distinct.join(counts, "event_type")


@_register(
    "asof_latest_order_per_event",
    """
    WITH daily AS (
      SELECT o_custkey, o_orderdate,
             count(*) AS n_orders_that_day,
             round(sum(CAST(o_totalprice AS DECIMAL(20,6))), 2)::DOUBLE AS total_that_day
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id,
           e.user_id,
           floor(epoch(e.ts))::BIGINT AS ts_epoch,
           d.n_orders_that_day,
           d.total_that_day,
           floor(epoch(d.o_orderdate))::BIGINT AS matched_epoch
    FROM events e
    ASOF LEFT JOIN daily d
      ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
    """,
    description=(
        "As-of join (merge_asof semantics): each event matched to the "
        "customer's latest order-day at or before the event. Spark side "
        "is the union-merge pattern — tag sides, one window per key, "
        "last(payload, ignorenulls) — exactly one shuffle, no range "
        "explosion; DuckDB's native ASOF JOIN referees. Right side is "
        "pre-aggregated per (key, ts) so ties are deterministic."
    ),
    tags=("join", "asof", "custom-operator"),
)
def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    daily = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(
            F.count("*").alias("n_orders_that_day"),
            money_sum(F.col("o_totalprice"), "total_that_day"),
        )
    )
    out = as_of_join(
        ev,
        daily,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["n_orders_that_day", "total_that_day"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        "n_orders_that_day",
        "total_that_day",
        F.col("matched_ts").cast("long").alias("matched_epoch"),
    )


_PURCHASES_CTE = """
    purchases AS (
      SELECT user_id, ts,
             round(sum(CAST(value AS DECIMAL(20,6))), 6)::DOUBLE AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    )
"""

@_register(
    "asof_next_purchase_after_error",
    f"""
    WITH {_PURCHASES_CTE}
    SELECT e.event_id,
           e.user_id,
           floor(epoch(e.ts))::BIGINT AS ts_epoch,
           p.purchase_value,
           floor(epoch(p.ts))::BIGINT AS matched_epoch
    FROM errors e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts <= p.ts
    """,
    description=(
        "Forward as-of join: each error event matched to the same "
        "user's EARLIEST purchase at or after it (did the user recover?) "
        "— the same union-merge single-shuffle plan as backward, carried "
        "over a descending in-partition sort; errors with no later "
        "purchase keep NULLs. DuckDB's native forward ASOF (ts <= rts) "
        "referees. Right side pre-aggregated per (user, ts) so ties are "
        "deterministic."
    ),
    tags=("join", "asof", "custom-operator"),
)
def q_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 6)
            .cast("double")
            .alias("purchase_value")
        )
    )
    out = as_of_join(
        errors,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["purchase_value"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        "purchase_value",
        F.col("matched_ts").cast("long").alias("matched_epoch"),
    )


@_register(
    "asof_nearest_purchase_to_error",
    f"""
    WITH {_PURCHASES_CTE},
    b AS (
      SELECT e.event_id, e.user_id, e.ts, p.ts AS bts, p.purchase_value AS bv
      FROM errors e
      ASOF LEFT JOIN purchases p ON e.user_id = p.user_id AND e.ts >= p.ts
    ),
    f AS (
      SELECT e.event_id, p.ts AS fts, p.purchase_value AS fv
      FROM errors e
      ASOF LEFT JOIN purchases p ON e.user_id = p.user_id AND e.ts <= p.ts
    )
    SELECT b.event_id, b.user_id,
           floor(epoch(b.ts))::BIGINT AS ts_epoch,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL
                     OR epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts))
                THEN bv ELSE fv END AS purchase_value,
           floor(epoch(CASE WHEN bts IS NOT NULL AND (fts IS NULL
                     OR epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts))
                THEN bts ELSE fts END))::BIGINT AS matched_epoch
    FROM b JOIN f USING (event_id)
    """,
    description=(
        "Nearest as-of join: each error event matched to the same "
        "user's closest purchase in either direction (tie → backward, "
        "matching pd.merge_asof). Spark evaluates both carries inside "
        "ONE window exchange — two in-partition sorts, still a single "
        "shuffle; the oracle composes DuckDB's two ASOF directions."
    ),
    tags=("join", "asof", "custom-operator"),
)
def q_asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 6)
            .cast("double")
            .alias("purchase_value")
        )
    )
    out = as_of_join(
        errors,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["purchase_value"],
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        "purchase_value",
        F.col("matched_ts").cast("long").alias("matched_epoch"),
    )


@_register(
    "range_join_purchases_in_error_windows",
    """
    WITH err AS (
      SELECT user_id,
             min(ts) AS win_start,
             min(ts) + INTERVAL 4 HOURS AS win_end
      FROM events WHERE event_type = 'error'
      GROUP BY user_id, date_trunc('day', ts)
    )
    SELECT p.user_id,
           floor(epoch(e.win_start))::BIGINT AS win_start_epoch,
           count(*) AS n_purchases
    FROM events p JOIN err e
      ON p.user_id = e.user_id
     AND p.ts >= e.win_start AND p.ts < e.win_end
    WHERE p.event_type = 'purchase'
    GROUP BY 1, 2
    """,
    description=(
        "Range join: purchases inside the 4-hour window after each "
        "user's first daily error. Spark rewrites it as an equi-join on "
        "(key, time-bucket) with a residual range filter — hash join, "
        "never a per-key nested loop; the oracle uses the plain "
        "inequality join."
    ),
    tags=("join", "range", "custom-operator"),
)
def q_range_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("_day"))
        .agg(F.min("ts").alias("win_start"))
        .withColumn("win_end", F.col("win_start") + F.expr("INTERVAL 4 HOURS"))
        .select("user_id", "win_start", "win_end")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    joined = range_join(
        purchases,
        err,
        key="user_id",
        point_ts="ts",
        range_start="win_start",
        range_end="win_end",
        bucket="1 hour",
    )
    return joined.groupBy(
        "user_id", F.col("win_start").cast("long").alias("win_start_epoch")
    ).agg(F.count("*").alias("n_purchases"))


@_register(
    "daily_revenue_moving_avg",
    """
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             round(sum(CAST(o_totalprice AS DECIMAL(20,6))), 2)::DOUBLE AS revenue
      FROM orders GROUP BY 1
    )
    SELECT epoch(day)::BIGINT AS day_epoch,
           revenue,
           round(avg(revenue) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
             AS ma7,
           round(sum(revenue) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 2)
             AS running_total
    FROM daily
    """,
    description=(
        "Window frames: 7-day moving average + running total of daily "
        "revenue (ROWS BETWEEN frames). Single ordered window; at scale "
        "partition by a coarser key (year) to parallelize the frame."
    ),
    tags=("analytic", "frames"),
)
def q_daily_revenue_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        money_sum(F.col("o_totalprice"), "revenue")
    )
    w = Window.orderBy("day")
    return daily.select(
        F.col("day").cast("long").alias("day_epoch"),
        "revenue",
        F.round(F.avg("revenue").over(w.rowsBetween(-6, 0)), 6).alias("ma7"),
        F.round(
            F.sum("revenue").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_total"),
    )


_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

@_register(
    "pivot_event_type_daily",
    f"""
    SELECT epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
           {', '.join(f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}" for t in _EVENT_TYPES)}
    FROM events GROUP BY 1
    """,
    description=(
        "Pivot: daily event counts, one column per event type (explicit "
        "value list keeps the schema static — a values-less pivot scans "
        "twice to discover columns). Equivalent to the shuffle-free "
        "conditional-aggregation form the oracle uses."
    ),
    tags=("aggregation", "pivot"),
)
def q_pivot_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.date_trunc("day", "ts").cast("long").alias("day_epoch"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )


@_register(
    "q4_late_shipment_orders",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAYS)
    GROUP BY 1
    """,
    description=(
        "TPC-H Q4 shape: orders having at least one line shipped >=60 "
        "days after order date, counted by priority. EXISTS plans as a "
        "left-semi hash join (no row duplication before the aggregate)."
    ),
    tags=("sql", "join", "semijoin"),
)
def q_q4_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    sem = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@_register(
    "nation_trade_pairs",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,6))), 2)::DOUBLE AS volume,
           count(*) AS n_lines
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY 1, 2
    """,
    description=(
        "TPC-H Q7 shape: cross-border trade volume by (supplier nation, "
        "customer nation) pair — the same dimension table joined twice "
        "under different roles, both broadcast."
    ),
    tags=("sql", "join"),
)
def q_nation_trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy("supp_nation", "cust_nation").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"),
        F.count("*").alias("n_lines"),
    )


@_register(
    "signup_purchase_funnel",
    """
    WITH s AS (SELECT user_id, min(ts) AS s_ts FROM events
               WHERE event_type = 'signup' AND user_id IS NOT NULL
               GROUP BY user_id),
    p AS (SELECT s.user_id, s.s_ts, min(e.ts) AS p_ts
          FROM s LEFT JOIN events e
            ON e.user_id = s.user_id AND e.event_type = 'purchase'
               AND e.ts >= s.s_ts
          GROUP BY s.user_id, s.s_ts)
    SELECT user_id,
           floor(epoch(s_ts))::BIGINT AS signup_epoch,
           floor(epoch(p_ts))::BIGINT AS purchase_epoch,
           (p_ts IS NOT NULL) AS converted,
           (floor(epoch(p_ts)) - floor(epoch(s_ts)))::BIGINT AS secs_to_convert
    FROM p
    """,
    description=(
        "Funnel analysis over the reference's user-activity domain: per "
        "signed-up user, first signup -> first subsequent purchase, "
        "conversion flag, seconds-to-convert. One window over user_id "
        "(first signup) then a groupBy on the SAME key — the second "
        "aggregation reuses the window's partitioning, so the whole "
        "funnel costs a single exchange of the events table."
    ),
    tags=("analytic", "funnel", "events"),
)
def q_signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identified-users contract: NULL user_id is excluded on BOTH
    # engines. Without the filter, Window.partitionBy groups all NULL
    # users into one phantom "user" whose signup->purchase chain the
    # oracle's user_id JOIN (NULL matches nothing) can never produce.
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id")
    s_ts = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    flagged = ev.withColumn("_s_ts", s_ts).filter(F.col("_s_ts").isNotNull())
    agg = flagged.groupBy("user_id").agg(
        F.min("_s_ts").alias("_s"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("_s_ts")),
                F.col("ts"),
            )
        ).alias("_p"),
    )
    # cast("long") (floorDiv), NOT unix_timestamp: unix_timestamp
    # truncates toward zero, so pre-epoch fractional timestamps round
    # the wrong way vs the oracle's floor(epoch(..))
    return agg.select(
        "user_id",
        F.col("_s").cast("long").alias("signup_epoch"),
        F.col("_p").cast("long").alias("purchase_epoch"),
        F.col("_p").isNotNull().alias("converted"),
        (F.col("_p").cast("long") - F.col("_s").cast("long")).alias(
            "secs_to_convert"
        ),
    )


@_register(
    "weekly_cohort_retention",
    """
    WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
    j AS (SELECT e.user_id,
                 floor(floor(epoch(f.first_ts)) / 604800)::BIGINT AS cohort_week,
                 floor(floor(epoch(e.ts)) / 604800)::BIGINT AS event_week
          FROM events e JOIN f ON e.user_id = f.user_id)
    SELECT cohort_week,
           (event_week - cohort_week)::BIGINT AS week_offset,
           count(DISTINCT user_id)::BIGINT AS n_active
    FROM j GROUP BY cohort_week, event_week
    """,
    description=(
        "Cohort retention matrix: users bucketed by the week of their "
        "first event; per (cohort, week-offset) distinct active users — "
        "the standard product-analytics retention triangle. First-event "
        "week rides a window over user_id; the distinct count is the "
        "only further shuffle. Epoch-week arithmetic (floor(epoch/604800)) "
        "is engine-portable; no date-truncation semantics in play."
    ),
    tags=("analytic", "cohort", "events"),
)
def q_weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identified-users contract: the oracle's events-to-first-event
    # JOIN drops NULL user_ids; the Spark window would otherwise keep
    # them as one phantom cohort whose count(DISTINCT user_id)=0 rows
    # have no oracle twin.
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id")
    first_ts = F.min("ts").over(w)
    weeks = ev.select(
        "user_id",
        # cast("long") floors like the oracle's floor(epoch(..));
        # unix_timestamp truncates toward zero pre-epoch
        F.floor(first_ts.cast("long") / 604800).alias("cohort_week"),
        F.floor(F.col("ts").cast("long") / 604800).alias("event_week"),
    )
    return (
        weeks.groupBy("cohort_week", "event_week")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .select(
            "cohort_week",
            (F.col("event_week") - F.col("cohort_week")).alias("week_offset"),
            "n_active",
        )
    )


@_register(
    "value_outliers_mad",
    """
    WITH r1 AS (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM events),
    m1 AS (
      SELECT event_type, event_id, value, cnt,
             max(CASE WHEN rn = (cnt + 1) // 2 THEN value END)
               OVER (PARTITION BY event_type) AS med
      FROM r1),
    r2 AS (
      SELECT event_type, value, cnt, med, abs(value - med) AS dev,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(value - med), event_id) AS drn
      FROM m1),
    m2 AS (
      SELECT event_type, value, cnt, med, dev,
             max(CASE WHEN drn = (cnt + 1) // 2 THEN dev END)
               OVER (PARTITION BY event_type) AS mad
      FROM r2)
    SELECT event_type,
           any_value(cnt)::BIGINT AS n_events,
           round(any_value(med), 6) AS median_value,
           round(any_value(mad), 6) AS mad,
           count_if(dev > 3 * mad)::BIGINT AS n_outliers
    FROM m2 GROUP BY event_type
    """,
    description=(
        "Robust anomaly detection: per event_type exact lower median of "
        "value, exact median absolute deviation (the robust sigma), and "
        "the count of |v - med| > 3*MAD outliers. Both medians ride the "
        "two-phase histogram selection (operators/selection.py) — no "
        "per-event_type sort task anywhere, the hot-key hazard SURVEY "
        "§4 flags for ~5-value keys — yet the picks stay EXACT rank "
        "elements, never averaged, so every comparison runs on "
        "bit-identical doubles in both engines."
    ),
    tags=("analytic", "robust-stats", "events"),
)
def q_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark import cache as C
    from flink_start_spark.operators import selection as S

    ev = load_table(spark, "events", sf_dir)
    base = C.track(ev.select("event_type", "value"))
    med = S.exact_rank_value(
        base, ["event_type"], "value", out_col="_med"
    ).select("event_type", F.col("_gcnt").alias("n_events"), "_med")
    dev = C.track(
        base.join(F.broadcast(med), "event_type").withColumn(
            "_dev", F.abs(F.col("value") - F.col("_med"))
        )
    )
    mad = S.exact_rank_value(dev, ["event_type"], "_dev", out_col="_mad").select(
        "event_type", "_mad"
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("n_events").alias("n_events"),
            F.round(F.any_value("_med"), 6).alias("median_value"),
            F.round(F.any_value("_mad"), 6).alias("mad"),
            F.sum((F.col("_dev") > 3 * F.col("_mad")).cast("long")).alias(
                "n_outliers"
            ),
        )
    )


@_register(
    "value_winsorized_stats",
    """
    WITH r AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM events),
    q AS (
      SELECT r.event_type, p.prob, r.value
      FROM r CROSS JOIN (VALUES (0.05), (0.95)) AS p(prob)
      WHERE r.rn = greatest(1, ceil(p.prob::DOUBLE * r.cnt))),
    lh AS (
      SELECT event_type,
             max(CASE WHEN prob = 0.05 THEN value END) AS p05,
             max(CASE WHEN prob = 0.95 THEN value END) AS p95
      FROM q GROUP BY event_type)
    SELECT e.event_type, count(*)::BIGINT AS n_events,
           round(any_value(p05), 6) AS p05,
           round(any_value(p95), 6) AS p95,
           round(sum(floor(least(greatest(e.value, p05), p95) * 1048576))
                 / (count(*) * 1048576.0), 6) AS winsorized_mean
    FROM events e JOIN lh USING (event_type)
    GROUP BY e.event_type
    """,
    description=(
        "Winsorized robust mean: clip value to the per-event_type EXACT "
        "p05/p95 (lower-quantile semantics via the shared two-phase "
        "multi-rank selection, operators/selection."
        "exact_quantile_values - both tails located in one histogram "
        "pass, no hot-key sort), then average the clipped values as "
        "integer-quantized floor(v*2^20) partial sums so the mean is "
        "bit-identical across engines regardless of summation order. "
        "The outlier-robust KPI form (p05/p95 bounds reported "
        "alongside) that complements value_outliers_mad's MAD flags."
    ),
    tags=("analytic", "robust-stats", "events"),
)
def q_value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark import cache as C
    from flink_start_spark.operators import selection as S

    ev = load_table(spark, "events", sf_dir)
    base = C.track(ev.select("event_type", "value"))
    qs = S.exact_quantile_values(
        base, ["event_type"], "value", [0.05, 0.95], out_col="qv"
    )
    lohi = qs.groupBy("event_type").agg(
        F.any_value("_gcnt").alias("n_events"),
        F.max(F.when(F.col("_prob") == 0.05, F.col("qv"))).alias("p05"),
        F.max(F.when(F.col("_prob") == 0.95, F.col("qv"))).alias("p95"),
    )
    clipped = base.join(F.broadcast(lohi), "event_type").withColumn(
        "_cv", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.any_value("p05"), 6).alias("p05"),
        F.round(F.any_value("p95"), 6).alias("p95"),
        F.round(
            F.sum(F.floor(F.col("_cv") * 1048576))
            / (F.count(F.lit(1)) * F.lit(1048576.0)),
            6,
        ).alias("winsorized_mean"),
    )


@_register(
    "daily_revenue_gapfill",
    """
    WITH daily AS (
      SELECT o_orderdate AS d, count(*) AS n_orders,
             round(sum(CAST(o_totalprice AS DECIMAL(20,6))), 2)::DOUBLE AS revenue
      FROM orders GROUP BY o_orderdate),
    b AS (SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM b),
    j AS (SELECT spine.d, daily.n_orders, daily.revenue
          FROM spine LEFT JOIN daily USING (d))
    SELECT floor(epoch(d))::BIGINT AS date_epoch,
           coalesce(n_orders, 0)::BIGINT AS n_orders,
           coalesce(revenue, 0.0) AS revenue,
           coalesce(round(last_value(revenue IGNORE NULLS)
                            OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW), 2),
                    0.0) AS revenue_locf
    FROM j
    """,
    description=(
        "Time-series gap filling: generate the full calendar spine "
        "(sequence/explode between min and max order dates), left-join "
        "daily revenue, and fill gaps twice - zeros for counts, "
        "last-observation-carried-forward for revenue (last() IGNORE "
        "NULLS over the date order). The unpartitioned window runs over "
        "the SPINE, whose cardinality is calendar days (O(years)) - "
        "corpus-size-independent, so the single-task total order is "
        "safe at any scale; the only corpus-sized work is the daily "
        "groupBy."
    ),
    tags=("analytic", "timeseries", "gapfill"),
)
def q_daily_revenue_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count("*").alias("n_orders"),
        money_sum(F.col("o_totalprice"), "revenue"),
    )
    bounds = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    j = spine.join(daily, "d", "left")
    w = (
        Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        # cast("long") floors (floorDiv micros); unix_timestamp would
        # truncate a pre-epoch fractional spine start toward zero
        F.col("d").cast("long").alias("date_epoch"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce(
            F.round(F.last("revenue", ignorenulls=True).over(w), 2), F.lit(0.0)
        ).alias("revenue_locf"),
    )


@_register(
    "monthly_revenue_trend",
    """
    WITH daily AS (
      SELECT (year(o_orderdate) * 100 + month(o_orderdate))::BIGINT AS order_month,
             day(o_orderdate)::BIGINT AS x,
             (sum(CAST(o_totalprice AS DECIMAL(20,6))) * 100)::BIGINT AS y
      FROM orders GROUP BY 1, 2)
    SELECT order_month,
           count(*)::BIGINT AS n_days,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / nullif((count(*) * sum(x * x) - sum(x) * sum(x)), 0)::DOUBLE,
                 6) AS slope_cents_per_day
    FROM daily GROUP BY order_month
    """,
    description=(
        "Trend analytics: per-month least-squares slope of daily "
        "revenue, computed from the closed form (n*Sxy - Sx*Sy)/"
        "(n*Sxx - Sx^2) over INTEGER inputs - day index and exact "
        "DECIMAL cent totals - so every sum commutes and the slope is "
        "bit-identical across engines and partitionings (regr_slope's "
        "internal float accumulation is not). Two aggregations, both "
        "map-side collapsing; single-day months yield a null slope "
        "(guarded division)."
    ),
    tags=("analytic", "timeseries", "regression"),
)
def q_monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("x"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(20,6)")) * 100)
        .cast("long")
        .alias("y")
    )
    n = F.count("*")
    num = n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")
    den = n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    return daily.groupBy("order_month").agg(
        n.alias("n_days"),
        F.round(
            F.try_divide(num, F.nullif(den, F.lit(0)).cast("double")), 6
        ).alias("slope_cents_per_day"),
    )


@_register(
    "last_touch_attribution",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attributed_type
      FROM events)
    SELECT coalesce(attributed_type, 'none') AS attributed_type,
           count(*)::BIGINT AS n_purchases
    FROM o WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    description=(
        "Last-touch attribution: for every purchase, the user's most "
        "recent preceding non-purchase event type (last_value IGNORE "
        "NULLS over a user-partitioned, (ts, event_id)-ordered frame "
        "ending 1 PRECEDING), aggregated to the channel report. ONE "
        "window pass over one user partitioning; first-event purchases "
        "attribute to 'none'."
    ),
    tags=("analytic", "attribution", "events"),
)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("_attr", attributed)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("_attr", F.lit("none")).alias("attributed_type"))
        .agg(F.count("*").alias("n_purchases"))
    )


@_register(
    "three_step_funnel",
    """
    WITH s AS (SELECT user_id, min(ts) AS s_ts FROM events
               WHERE event_type = 'signup' AND user_id IS NOT NULL
               GROUP BY user_id),
    v AS (SELECT s.user_id, s.s_ts, min(e.ts) AS v_ts
          FROM s LEFT JOIN events e
            ON e.user_id = s.user_id AND e.event_type = 'view' AND e.ts >= s.s_ts
          GROUP BY s.user_id, s.s_ts),
    p AS (SELECT v.user_id, v.v_ts, min(e.ts) AS p_ts
          FROM v LEFT JOIN events e
            ON e.user_id = v.user_id AND e.event_type = 'purchase'
               AND v.v_ts IS NOT NULL AND e.ts >= v.v_ts
          GROUP BY v.user_id, v.v_ts)
    SELECT CASE WHEN p_ts IS NOT NULL THEN 'purchased'
                WHEN v_ts IS NOT NULL THEN 'viewed'
                ELSE 'signup_only' END AS stage,
           count(*)::BIGINT AS n_users
    FROM p GROUP BY 1
    """,
    description=(
        "Three-step ORDERED funnel (signup -> view -> purchase): each "
        "later step must occur at or after the user's first completion "
        "of the previous step - the ordering constraint that separates "
        "a funnel from three independent counts. Per-step min-ts "
        "aggregations chained through user_id-keyed left joins; every "
        "stage rides the same user_id hash partitioning."
    ),
    tags=("analytic", "funnel", "events"),
)
def q_three_step_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identified-users contract (see q_signup_purchase_funnel)
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    view_ev = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("_vu"), F.col("ts").alias("_vts")
    )
    v = (
        s.join(
            view_ev,
            (F.col("user_id") == F.col("_vu")) & (F.col("_vts") >= F.col("s_ts")),
            "left",
        )
        .groupBy("user_id", "s_ts")
        .agg(F.min("_vts").alias("v_ts"))
    )
    buy_ev = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_pu"), F.col("ts").alias("_pts")
    )
    p = (
        v.join(
            buy_ev,
            (F.col("user_id") == F.col("_pu"))
            & F.col("v_ts").isNotNull()
            & (F.col("_pts") >= F.col("v_ts")),
            "left",
        )
        .groupBy("user_id", "v_ts")
        .agg(F.min("_pts").alias("p_ts"))
    )
    stage = (
        F.when(F.col("p_ts").isNotNull(), F.lit("purchased"))
        .when(F.col("v_ts").isNotNull(), F.lit("viewed"))
        .otherwise(F.lit("signup_only"))
    )
    return p.groupBy(stage.alias("stage")).agg(F.count("*").alias("n_users"))


@_register(
    "peak_concurrent_sessions",
    f"""
    WITH o AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
    b AS (SELECT user_id, us,
            CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                      > 1800 * 1000000
                 OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                 THEN 1 ELSE 0 END AS brk
          FROM o),
    g AS (SELECT user_id, us,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM b),
    s AS (SELECT user_id, min(us) AS s_us, max(us) + 1800 * 1000000 AS e_us
          FROM g GROUP BY user_id, sid),
    p AS (SELECT s_us * 2 + 1 AS k, 1 AS d FROM s
          UNION ALL SELECT e_us * 2, -1 FROM s),
    gp AS (SELECT k, sum(d) AS delta FROM p GROUP BY k),
    r AS (SELECT k, sum(delta) OVER (ORDER BY k
                                     ROWS UNBOUNDED PRECEDING) AS running
          FROM gp),
    m AS (SELECT max(running) AS peak FROM r)
    SELECT max(peak)::BIGINT AS peak_concurrent,
           -- pmod-floor twice (k -> us -> s, floor_div_sql): integer
           -- // truncates toward zero, diverging from the engine's
           -- floor convention on pre-epoch instants
           {floor_div_sql(floor_div_sql("min(k)", 2), 1000000)}::BIGINT AS first_peak_epoch_s
    FROM r, m WHERE running = peak
    """,
    description=(
        "Peak concurrency via an interval sweep - the classic range-"
        "analytics question (max simultaneously-open sessions; same "
        "shape as max in-flight orders / max concurrent calls): "
        "sessionize per user (30 min gap), explode each session into "
        "+1/-1 endpoint deltas encoded as us*2+bit so an end at time t "
        "sorts BEFORE a start at t (half-open intervals, no phantom "
        "overlap at the boundary), pre-aggregate deltas per encoded "
        "instant (which also makes the sweep order unique), then a "
        "GLOBAL running sum over the two-phase bucket-offset topology "
        "(operators/selection.py) - no single-task sort even though "
        "the sweep is a total order. Peak flows back as a 1-row "
        "broadcast to pick the earliest instant it is reached. "
        "Within-instant ordering cannot hide a higher peak: all -1s "
        "of an instant apply before all +1s, and each group's "
        "extremum is attained at a group boundary the running sum "
        "visits."
    ),
    tags=("windows", "sessions", "analytic", "extension"),
)
def q_peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import windows as W

    ev = load_table(spark, "events", sf_dir)
    sess = W.session_window_agg(
        ev, "30 minutes", F.count(F.lit(1)).alias("n_events"), keys=["user_id"]
    )
    iv = sess.select(
        F.unix_micros(F.col("window_start")).alias("s_us"),
        F.unix_micros(F.col("window_end")).alias("e_us"),
    )
    return W.interval_peak(iv, "s_us", "e_us")
