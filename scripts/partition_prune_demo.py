"""Measure the partition-pruning scan lever on a hive-partitioned fact
table — the timing evidence behind tests/test_layout.py's plan
assertions (which prove the PLAN shape; this script proves the lever
actually moves wall-clock, like skew_join_demo does for its lever; the
exact-selection lever's crossover is recorded in COVERAGE.md).

    python scripts/partition_prune_demo.py [n_rows] [n_days]

Builds an events-shaped fact of n_rows (default 32M) rows across
n_days (default 64) day-partitions, writes it hive-partitioned via
operators.layout.write_partitioned, then times three aggregate scans:

- full:    no partition predicate — every directory read (the baseline
           a non-partitioned 100 TB fact would pay on every query);
- static:  literal ``day = <d>`` predicate — the directory-listing cut
           (PartitionFilters), reads 1/n_days of the data;
- dpp:     join to a small dimension filtered to 2 days — dynamic
           partition pruning; the fact scan is pruned at RUNTIME by the
           broadcast side's dynamicpruning subquery.

Each timing is min-of-3 on the same session (warm page cache — the
measured ratio therefore UNDERSTATES the at-scale win, where pruning
also saves cold object-store reads). Plan shape is verified in-run:
static must carry the predicate inside PartitionFilters, dpp must plan
a dynamicpruning expression; the pruned aggregates are also checked
for exact equality against filtering the full scan, so the fast path
is the same answer. Results recorded in SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from flink_start_spark.operators.layout import write_partitioned
from flink_start_spark.session import get_spark


def build(spark, n_rows: int, n_days: int, path: str) -> None:
    # wide-ish payload (a string + 3 numerics) so the full scan does
    # real decode work — a 3-column fixture is launch-overhead-bound on
    # a warm cache and can't show the lever
    fact = spark.range(n_rows).select(
        (F.col("id") % n_days).cast("int").alias("day"),
        (F.crc32(F.col("id").cast("string")) % 100_000).cast("long").alias("user_id"),
        (F.crc32(F.concat(F.lit("v"), F.col("id").cast("string"))) % 100_000)
        .cast("double")
        .alias("value"),
        F.md5(F.col("id").cast("string")).alias("payload"),
        (F.col("id") % 97).cast("double").alias("score"),
    )
    # several files per day-directory so the pruned scan still has
    # intra-partition parallelism (the production shape)
    write_partitioned(fact, path, ["day"], max_files_per_partition=8)


def _timed(df) -> tuple[float, list]:
    t0 = time.perf_counter()
    rows = df.collect()  # tiny aggregate result — collect is the action
    return time.perf_counter() - t0, rows


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 32_000_000
    n_days = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = get_spark("partition_prune_demo")
    path = os.path.join("/tmp", f"prune_demo_{n_rows}_{n_days}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build(spark, n_rows, n_days, path)

    fact = spark.read.parquet(path)
    # touch every column so column pruning can't hide the scan cost —
    # the comparison isolates PARTITION pruning alone
    agg = [
        F.count("*").alias("n"),
        F.round(F.sum("value"), 3).alias("sv"),
        F.round(F.sum("score"), 3).alias("ss"),
        F.max("payload").alias("mp"),
        F.max("user_id").alias("mu"),
    ]

    # each timed sample REBUILDS the plan from a fresh spark.read:
    # re-collecting one DataFrame object reuses the first execution's
    # shuffle outputs (skipped stages) and times ~0 — the same reason
    # bench.py rebuilds per run
    def full_df():
        return spark.read.parquet(path).groupBy().agg(*agg)

    def static_df():
        return (
            spark.read.parquet(path).where(F.col("day") == 3).groupBy().agg(*agg)
        )

    # exactly two audit days regardless of n_days (the old id%32==3 rule
    # silently degenerated to 1 or 0 surviving days for n_days <= 35,
    # making the "2 days" label and the recorded speedup incomparable)
    audit_days = [n_days // 3, (2 * n_days) // 3]
    assert len(set(audit_days)) == 2, f"need n_days >= 2, got {n_days}"

    def dpp_df():
        # the dim filter is on a NON-key attribute: a key-literal filter
        # would be constraint-propagated to the fact statically (plain
        # static pruning); only a runtime-valued filter needs DPP
        dim = spark.range(n_days).select(
            F.col("id").cast("int").alias("day"),
            F.col("id").isin(audit_days).alias("is_audit_day"),
        )
        return (
            spark.read.parquet(path)
            .join(F.broadcast(dim.where(F.col("is_audit_day"))), "day")
            .groupBy()
            .agg(*agg)
        )

    # plan-shape verification (mirrors tests/test_layout.py)
    static_plan = static_df()._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in static_plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines, "static scan lost its PartitionFilters group"
    pf = static_plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "day" in pf, f"day predicate not pushed to PartitionFilters: {pf}"
    dpp_plan = dpp_df()._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in dpp_plan, "join did not plan DPP"

    results: dict[str, dict] = {}
    for name, mk in (("full", full_df), ("static_1_day", static_df), ("dpp_2_days", dpp_df)):
        samples = []
        rows = None
        for _ in range(3):
            dt, rows = _timed(mk())
            samples.append(dt)
        results[name] = {
            "sec_min": round(min(samples), 3),
            "rows": [list(r) for r in rows],
        }

    # exact-equality: BOTH pruned paths == filtering the full relation
    # (a wrong-answer bug on either fast path must fail here, not ship
    # a timing for a different computation)
    assert results["static_1_day"]["rows"] == [
        list(r) for r in fact.where(F.col("day") == 3).groupBy().agg(*agg).collect()
    ]
    assert results["dpp_2_days"]["rows"] == [
        list(r)
        for r in fact.where(F.col("day").isin(audit_days)).groupBy().agg(*agg).collect()
    ]

    out = {
        "metric": "partition_prune_speedup",
        "n_rows": n_rows,
        "n_days": n_days,
        "full_sec": results["full"]["sec_min"],
        "static_sec": results["static_1_day"]["sec_min"],
        "dpp_sec": results["dpp_2_days"]["sec_min"],
        "static_speedup": round(
            results["full"]["sec_min"] / max(results["static_1_day"]["sec_min"], 1e-9), 2
        ),
        "dpp_speedup": round(
            results["full"]["sec_min"] / max(results["dpp_2_days"]["sec_min"], 1e-9), 2
        ),
        "plan_checks": {"static_partition_filters": True, "dpp_subquery": True},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
