"""Benchmark harness: runs the declared query catalog at a scale-factor
directory and prints ONE JSON line the driver records as BENCH_r{N}.json.

    python bench.py            # $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1
    python bench.py --runs 3   # median of 3 timed runs per query

Execution is forced with the noop sink (full computation, no driver
collect); one warm-up query amortizes JVM/codegen startup. The
reference publishes no benchmark numbers (BASELINE.md) — the operative
comparison is wall-clock at the driver's sf0.1 against prior rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from flink_start_spark import cache
from flink_start_spark.plans import QUERIES
from flink_start_spark.session import get_spark, warm_python_workers
from flink_start_spark.streaming import (
    count_trigger_stream,
    drift_stream,
    heavy_hitters_stream,
    quantile_stream,
    run_to_memory,
    session_window_stream,
    stream_events,
)


def _run_once(spark, name: str, sf_dir: str) -> float:
    # plan BUILD is inside the timed window: for most queries it is
    # milliseconds, but iterative operators (bpe_merges, and any future
    # driver-loop op) run eager per-round jobs during build — excluding
    # it would report their cost as ~0.
    t0 = time.perf_counter()
    df = QUERIES[name].spark(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    # Several operators persist() intermediates; SQL caches live in the
    # CacheManager until explicitly dropped (NOT GC'd), so a 50-query
    # sweep would accumulate them into memory pressure that degrades
    # later queries (measured 2x on the full catalog). Each query pays
    # for its own cache materialization inside the timed window; the
    # release afterwards (the cache-ownership contract,
    # flink_start_spark/cache.py) keeps queries independent; clearCache
    # is the belt-and-suspenders sweep for anything untracked.
    cache.release()
    spark.catalog.clearCache()
    return dt


def _ruler(spark) -> dict:
    """Fixed synthetic calibration ruler (round-9 verdict item 3): the
    same code measured in different windows/days kept reading 1.3-1.5x
    apart from host drift the guest cannot see in loadavg (round-8
    forensics: hypervisor memory overcommit shows up ONLY as cold
    first-touch fault latency). Three SF-independent probes, timed
    before and after every sweep and stored in the artifact, so
    bench_compare can report ruler-normalized ratios alongside raw:

    - ``spark_sec`` — a seeded 10M-row md5 + groupBy aggregate through
      the same noop sink as the sweep (CPU + shuffle + codegen, the
      workload's shape, zero data dependence);
    - ``warm_gbps`` — memcpy bandwidth on pre-faulted buffers;
    - ``cold_gbps`` — the same copy into FRESH pages (first-touch
      faults — the overcommit signal; measured range on this host:
      ~0.02-0.2 degraded, whole-GB/s healthy).

    Callers must run one UNTIMED ``_ruler`` first in each session: the
    probe's own plan pays codegen/JIT on first execution (measured
    4.36 s cold vs 1.91 s warm — a 2.3x artifact that would otherwise
    pollute ``ruler_before`` of every fresh session).
    """
    t0 = time.perf_counter()
    (
        spark.range(10_000_000)
        .repartition(32)
        .selectExpr("id % 997 AS k", "md5(cast(id AS string)) AS h")
        .groupBy("k")
        .agg({"h": "max", "k": "count"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return {"spark_sec": round(time.perf_counter() - t0, 3), **_mem_probe()}


def _mem_probe() -> dict:
    """The ruler's memcpy half (no Spark): ``warm_gbps`` over pre-faulted
    buffers and ``cold_gbps`` into fresh pages."""
    import numpy as np

    nbytes = 256 * 1024 * 1024
    src = np.ones(nbytes // 8, dtype=np.float64)
    dst = np.ones_like(src)  # pre-faulted target
    warm_secs = []
    for _ in range(2):  # best-of-2: single-shot memcpy timings are noisy
        t0 = time.perf_counter()
        np.copyto(dst, src)
        warm_secs.append(time.perf_counter() - t0)
    warm = (nbytes / 2**30) / max(min(warm_secs), 1e-9)
    t0 = time.perf_counter()
    fresh = np.empty_like(src)  # fresh pages -> first-touch faults
    np.copyto(fresh, src)
    cold = (nbytes / 2**30) / max(time.perf_counter() - t0, 1e-9)
    del src, dst, fresh
    return {"warm_gbps": round(warm, 2), "cold_gbps": round(cold, 2)}


def _load_avg():
    """1-minute host load average (None where the OS has none)."""
    return round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None


def _run_streaming(spark, sf_dir: str, build, mode: str) -> float:
    """Time one availableNow replay of the events fixture (file stream
    source) through ``build`` into a memory sink. Memory-sink tables
    hold full result sets in driver memory, so the table is dropped
    after timing or 3 runs x 6 streaming benches accumulate."""
    stream = build(stream_events(spark, os.path.join(sf_dir, "events.parquet")))
    t0 = time.perf_counter()
    sink = f"bench_stream_{int(t0 * 1000)}"
    run_to_memory(stream, sink, mode)
    dt = time.perf_counter() - t0
    try:
        spark.catalog.dropTempView(sink)
    except Exception:  # noqa: BLE001  (best-effort cleanup)
        pass
    return dt


#: (entry name, query over the stream_events source, output mode) — every
#: stateful streaming path has a timing series
STREAMING_BENCHES = (
    # watermarked tumbling signup count (the reference's core pipeline)
    ("streaming_tumbling_events", lambda ev: (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.when(F.col("event_type") == "signup", 1)).alias("cnt"))
    ), "update"),
    # per-user session windows: Spark's session-state merge path
    ("streaming_session_windows", lambda ev: session_window_stream(
        ev, gap="1 hour", watermark="1 hour",
    ), "append"),
    # per-event_type p50/p90 via the bounded histogram state operator
    ("streaming_quantiles", lambda ev: quantile_stream(
        ev, "event_type", "value", probs=(0.5, 0.9), lo=0.0, hi=1100.0,
    ), "update"),
    # per-event_type running PSI against a uniform reference
    ("streaming_drift", lambda ev: drift_stream(
        ev, "event_type", "value", {}, lo=0.0, hi=600.0,
    ), "update"),
    # count-trigger FIRE-no-PURGE global window, keyed by event_type
    # (the scalable form; parity tests pin the non-keyed reference one)
    ("streaming_count_trigger", lambda ev: count_trigger_stream(
        ev, every=1000, pred_col="event_type", pred_value="purchase",
        order_col="event_id", key_col="event_type",
    ), "append"),
    # per-event_type SpaceSaving top users
    ("streaming_heavy_hitters", lambda ev: heavy_hitters_stream(
        ev, "event_type", "user_id", capacity=64, k=10,
    ), "update"),
)


#: superlinear-flag rule for --sf-pair: a query is flagged when its
#: time grows more than data_ratio * SLACK between the two SFs AND the
#: larger-SF time clears the noise floor (below it, fixed plan/launch
#: overhead dominates both measurements and the ratio is meaningless).
PAIR_SLACK = 1.5
PAIR_FLOOR_SEC = 1.0


def _sf_of(dir_path: str):
    base = os.path.basename(dir_path.rstrip("/"))
    label = base[2:] if base.startswith("sf") else base
    try:
        return label, float(label)
    except ValueError:
        return label, None


def _pair_mode(spark, args) -> None:
    """Two-SF scaling check: time every entry at BOTH scale factors and
    flag superlinear growth — the local proxy for the 100x question.
    Writes BENCH_SFPAIR.json; the next full bench run embeds its
    summary into the driver artifact."""
    a_dir, b_dir = (p.strip() for p in args.sf_pair.split(","))
    (label_a, sf_a), (label_b, sf_b) = _sf_of(a_dir), _sf_of(b_dir)
    if not sf_a or not sf_b:
        # a fabricated default ratio would mis-flag (or miss) real
        # superlinearity — the flag rule is only meaningful relative to
        # the true data-size ratio, which the sf<float> label encodes
        raise SystemExit(
            "--sf-pair requires sf<float>-labelled directories "
            f"(got {label_a!r}, {label_b!r}) so the superlinear flag "
            "threshold reflects the real data ratio"
        )
    data_ratio = sf_b / sf_a
    names = args.queries or list(QUERIES)
    load_start = _load_avg()
    # warm up JVM/codegen + python worker pool once per SF dir; a
    # streaming-only --queries subset still needs the warm-up (the
    # first sample would otherwise absorb JVM/codegen/state-store
    # startup and deflate its ratio), so fall back to a cheap fixed
    # batch entry
    warm = next((n for n in names if n in QUERIES), None)
    if warm is None and QUERIES:
        warm = "dedup_exact" if "dedup_exact" in QUERIES else next(iter(QUERIES))
    if warm is not None:
        for d in (a_dir, b_dir):
            _run_once(spark, warm, d)
    warm_python_workers(spark)

    per_q: dict[str, dict] = {}
    _ruler(spark)  # untimed: the probe's own codegen/JIT warm-up
    ruler_before = _ruler(spark)

    def _mins(fn) -> float:
        return round(min(fn() for _ in range(args.runs)), 3)

    streaming_map = {n: (b, m) for n, b, m in STREAMING_BENCHES}
    for name in names:
        if name in streaming_map:  # streaming entries are addressable too
            continue
        t_a = _mins(lambda: _run_once(spark, name, a_dir))
        t_b = _mins(lambda: _run_once(spark, name, b_dir))
        per_q[name] = {"t_a": t_a, "t_b": t_b, "ratio": round(t_b / max(t_a, 1e-6), 2)}
    stream_names = (
        [n for n in names if n in streaming_map]
        if args.queries is not None
        else list(streaming_map)
    )
    for sname in stream_names:
        build, mode = streaming_map[sname]
        t_a = _mins(lambda: _run_streaming(spark, a_dir, build, mode))
        t_b = _mins(lambda: _run_streaming(spark, b_dir, build, mode))
        per_q[sname] = {
            "t_a": t_a, "t_b": t_b, "ratio": round(t_b / max(t_a, 1e-6), 2)
        }

    threshold = data_ratio * PAIR_SLACK
    flagged = sorted(
        n for n, v in per_q.items()
        if v["t_b"] > PAIR_FLOOR_SEC and v["ratio"] > threshold
    )
    ruler_after = _ruler(spark)
    load_end = _load_avg()
    out = {
        "metric": "sf_pair_scaling",
        "sf_a": label_a,
        "sf_b": label_b,
        "data_ratio": data_ratio,
        "flag_rule": f"ratio > {threshold:g} and t_b > {PAIR_FLOOR_SEC}s",
        "runs": args.runs,
        "n_queries": len(per_q),
        "flagged": flagged,
        "load_avg_start": load_start,
        "load_avg_end": load_end,
        "ruler_sec": min(ruler_before["spark_sec"], ruler_after["spark_sec"]),
        "ruler_before": ruler_before,
        "ruler_after": ruler_after,
        "queries": per_q,
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), args.pair_out
    )
    with open(path, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    print(
        json.dumps(
            {
                "metric": "sf_pair_scaling",
                "sf_pair": f"{label_a}->{label_b}",
                "n_queries": len(per_q),
                "flagged": flagged,
                "max_ratio": max(v["ratio"] for v in per_q.values()),
                "queries_file": args.pair_out,
            }
        )
    )


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument(
        "--sf-pair",
        default=None,
        help="dirA,dirB — time every entry at both SFs and flag "
        "superlinear growth (writes BENCH_SFPAIR.json)",
    )
    ap.add_argument(
        "--pair-out",
        default="BENCH_SFPAIR.json",
        help="artifact name for --sf-pair (use BENCH_SFPAIR_SF1.json "
        "for the 0.1->1 decade so the 0.01->0.1 artifact survives; the "
        "full bench embeds both)",
    )
    ap.add_argument(
        "--out",
        default=None,
        help="artifact filename override. Default keeps the historical "
        "names (BENCH_FULL.json for full runs, BENCH_SUBSET.json for "
        "--queries subsets). The round-end QUIET run writes "
        "BENCH_QUIET.json via this flag so the driver's own bench run "
        "(which always writes BENCH_FULL.json) cannot clobber the "
        "quiet-window evidence (round-7 verdict item 3)",
    )
    return ap


def main() -> None:
    args = _parser().parse_args()
    if args.sf_pair:
        spark = get_spark("flink_start_spark_bench")
        _pair_mode(spark, args)
        return

    sf_label, _ = _sf_of(args.sf_dir)
    spark = get_spark("flink_start_spark_bench")

    names = args.queries or list(QUERIES)
    # JVM/codegen warm-up on the flagship query (not timed)
    _run_once(spark, names[0], args.sf_dir)
    warm_python_workers(spark)

    # Host-noise guard (round-3 verdict item: r2-vs-r3 artifacts were
    # incomparable because ~15 unchanged queries drifted 1.5-2x from
    # neighbor load): record the 1-min load average at start and warn
    # loudly when the box is already busy, so a noisy artifact is
    # labeled as such instead of read as a regression.
    load_start = _load_avg()
    n_cpus = os.cpu_count() or 1
    if load_start is not None and load_start > 0.5 * n_cpus:
        print(
            json.dumps(
                {
                    "warning": "high host load at bench start",
                    "load_avg_1m": load_start,
                    "cpus": n_cpus,
                }
            ),
            file=sys.stderr,
        )

    # Per-query MIN and MEDIAN over runs. Min estimates the true cost
    # with transient host stalls removed (timeit's rationale; single-run
    # sweeps on this box showed 10x one-off spikes from neighbor noise);
    # the min-median spread is the per-query noise signal — a query
    # whose min moved but whose spread is wide was measured on a noisy
    # window, not regressed.
    def _med(xs: list[float]) -> float:
        ys = sorted(xs)
        n = len(ys)
        return ys[n // 2] if n % 2 else (ys[n // 2 - 1] + ys[n // 2]) / 2

    _ruler(spark)  # untimed: the probe's own codegen/JIT warm-up
    ruler_before = _ruler(spark)

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}

    def _record(name: str, samples: list[float]) -> None:
        timings[name] = round(min(samples), 3)
        medians[name] = round(_med(samples), 3)

    for name in names:
        _record(name, [_run_once(spark, name, args.sf_dir) for _ in range(args.runs)])
    if args.queries is None:
        for sname, build, mode in STREAMING_BENCHES:
            _record(
                sname,
                [_run_streaming(spark, args.sf_dir, build, mode) for _ in range(args.runs)],
            )

    total = round(sum(timings.values()), 3)
    ruler_after = _ruler(spark)
    load_end = _load_avg()
    try:
        # label like 'sf0.1' -> 0.1; anything unparseable (multi-dot,
        # odd basename) stays a string instead of raising AFTER all the
        # timed work completed
        sf = float(sf_label)
    except ValueError:
        sf = sf_label
    full = {
        "metric": (
            "catalog_wall_clock_total"
            if args.queries is None
            # a subset run must not masquerade as (or clobber) the full
            # catalog artifact
            else "query_subset_wall_clock_total"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "median_total": round(sum(medians.values()), 3),
        "load_avg_start": load_start,
        "load_avg_end": load_end,
        "cpus_host": n_cpus,
        "sf": sf,
        # min of the before/after probes = the window's least-loaded
        # estimate of the host's fixed-work cost; bench_compare divides
        # totals by it to separate host drift from code deltas
        "ruler_sec": min(ruler_before["spark_sec"], ruler_after["spark_sec"]),
        "ruler_before": ruler_before,
        "ruler_after": ruler_after,
    }
    # attach the latest two-SF scaling artifact (produced by a separate
    # quiet-host `--sf-pair` run — re-measuring both SFs per driver
    # round would double bench time) so the recorded artifact carries
    # the superlinear flag list alongside the timings
    here = os.path.dirname(os.path.abspath(__file__))
    for fname, key in (
        ("BENCH_SFPAIR.json", "sf_pair"),
        ("BENCH_SFPAIR_SF1.json", "sf_pair_sf1"),  # second decade, 0.1->1
        ("BENCH_STREAMING.json", "streaming_throughput"),
    ):
        pair_path = os.path.join(here, fname)
        if args.queries is None and os.path.exists(pair_path):
            try:
                with open(pair_path) as f:
                    pair = json.load(f)
                if key == "streaming_throughput":
                    full[key] = {
                        "mode": pair.get("mode"),
                        "state_store": pair.get("state_store"),
                        "rows_per_sec": {
                            fam: v.get("rows_per_sec")
                            for fam, v in pair.get("families", {}).items()
                        },
                    }
                else:
                    full[key] = {
                        k: pair.get(k)
                        for k in (
                            "sf_a", "sf_b", "data_ratio", "flag_rule", "flagged",
                            "n_queries", "load_avg_start",
                        )
                    }
            except Exception:  # noqa: BLE001 — a corrupt artifact must not sink the bench
                pass
    # The driver records only the last ~2000 chars of stdout; the full
    # per-query line exceeds that, so it goes FIRST (and to a file),
    # and the final line is a compact totals JSON guaranteed to fit.
    out_name = args.out or (
        "BENCH_FULL.json" if args.queries is None else "BENCH_SUBSET.json"
    )
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), out_name), "w") as f:
        json.dump(full, f)
    print(json.dumps(full))
    compact = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "median_total": full["median_total"],
        "load_avg_start": load_start,
        "ruler_sec": full["ruler_sec"],
        "queries_file": out_name,
    }
    if "sf_pair" in full:
        compact["sf_pair"] = f"{full['sf_pair']['sf_a']}->{full['sf_pair']['sf_b']}"
        compact["sf_pair_flagged"] = full["sf_pair"]["flagged"]
    if "sf_pair_sf1" in full:
        compact["sf_pair_sf1"] = (
            f"{full['sf_pair_sf1']['sf_a']}->{full['sf_pair_sf1']['sf_b']}"
        )
        compact["sf_pair_sf1_flagged"] = full["sf_pair_sf1"]["flagged"]
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
