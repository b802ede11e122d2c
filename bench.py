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

from flink_start_spark import cache
from flink_start_spark.plans import QUERIES
from flink_start_spark.session import get_spark


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


def _drop_view(spark, name: str) -> None:
    """Memory-sink tables hold full result sets in driver memory; drop
    them after timing or 3 runs x 4 streaming benches accumulate."""
    try:
        spark.catalog.dropTempView(name)
    except Exception:  # noqa: BLE001  (best-effort cleanup)
        pass


def _run_streaming(spark, sf_dir: str) -> float:
    """End-to-end Structured Streaming run: watermarked tumbling signup
    count over the events table via the file stream source → noop-like
    memory sink, availableNow (the reference's core pipeline shape)."""
    from pyspark.sql import functions as F

    from flink_start_spark.streaming import run_to_memory, stream_events

    stream = stream_events(spark, os.path.join(sf_dir, "events.parquet"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.when(F.col("event_type") == "signup", 1)).alias("cnt"))
    )
    t0 = time.perf_counter()
    sink = f"bench_stream_{int(t0 * 1000)}"
    run_to_memory(agg, sink, "update")
    dt = time.perf_counter() - t0
    _drop_view(spark, sink)
    return dt


def _run_streaming_sessions(spark, sf_dir: str) -> float:
    """Stateful streaming session windows (the reference's declared
    future goal): per-user sessions with a 1-hour gap over the same
    file stream — exercises Spark's session-state merge path."""
    from flink_start_spark.streaming import run_to_memory, stream_events
    from flink_start_spark.streaming.pipelines import session_window_stream

    stream = stream_events(spark, os.path.join(sf_dir, "events.parquet"))
    sessions = session_window_stream(stream, gap="1 hour", watermark="1 hour")
    t0 = time.perf_counter()
    sink = f"bench_sessions_{int(t0 * 1000)}"
    run_to_memory(sessions, sink, "append")
    dt = time.perf_counter() - t0
    _drop_view(spark, sink)
    return dt


def _run_streaming_quantiles(spark, sf_dir: str) -> float:
    """Bounded-state running quantiles (streaming twin of the batch
    two-phase selection): per-event_type p50/p90 via the permanent
    histogram state operator."""
    from flink_start_spark.streaming import run_to_memory, stream_events
    from flink_start_spark.streaming.quantiles import quantile_stream

    stream = stream_events(spark, os.path.join(sf_dir, "events.parquet"))
    q = quantile_stream(
        stream, "event_type", "value", probs=(0.5, 0.9), lo=0.0, hi=1100.0
    )
    t0 = time.perf_counter()
    sink = f"bench_squant_{int(t0 * 1000)}"
    run_to_memory(q, sink, "update")
    dt = time.perf_counter() - t0
    _drop_view(spark, sink)
    return dt


def _run_streaming_drift(spark, sf_dir: str) -> float:
    """Bounded-state PSI drift monitor (streaming twin of
    feature_drift_psi): per-event_type running PSI against a uniform
    reference over the same file stream."""
    from flink_start_spark.streaming import run_to_memory, stream_events
    from flink_start_spark.streaming.drift import drift_stream

    stream = stream_events(spark, os.path.join(sf_dir, "events.parquet"))
    d = drift_stream(stream, "event_type", "value", {}, lo=0.0, hi=600.0)
    t0 = time.perf_counter()
    sink = f"bench_sdrift_{int(t0 * 1000)}"
    run_to_memory(d, sink, "update")
    dt = time.perf_counter() - t0
    _drop_view(spark, sink)
    return dt


def _run_streaming_count_trigger(spark, sf_dir: str) -> float:
    """Count-trigger FIRE-no-PURGE global window (streaming twin of the
    reference's O13) via applyInPandasWithState, keyed by event_type —
    the scalable production form (the non-keyed reference semantics
    serialize all state through one task, exactly like Flink's
    windowAll; parity tests pin that form)."""
    from flink_start_spark.streaming import run_to_memory, stream_events
    from flink_start_spark.streaming.count_trigger import count_trigger_stream

    stream = stream_events(spark, os.path.join(sf_dir, "events.parquet"))
    ct = count_trigger_stream(
        stream, every=1000, pred_col="event_type", pred_value="purchase",
        order_col="event_id", key_col="event_type",
    )
    t0 = time.perf_counter()
    sink = f"bench_sct_{int(t0 * 1000)}"
    run_to_memory(ct, sink, "append")
    dt = time.perf_counter() - t0
    _drop_view(spark, sink)
    return dt


def _run_streaming_heavy_hitters(spark, sf_dir: str) -> float:
    """Per-key running top-k frequent items (SpaceSaving summary in
    applyInPandasWithState): top users per event_type over the same
    file stream — the bounded-state frequent-items path."""
    from flink_start_spark.streaming import run_to_memory, stream_events
    from flink_start_spark.streaming.heavy_hitters import heavy_hitters_stream

    stream = stream_events(spark, os.path.join(sf_dir, "events.parquet"))
    hh = heavy_hitters_stream(stream, "event_type", "user_id", capacity=64, k=10)
    t0 = time.perf_counter()
    sink = f"bench_shh_{int(t0 * 1000)}"
    run_to_memory(hh, sink, "update")
    dt = time.perf_counter() - t0
    _drop_view(spark, sink)
    return dt


#: all stateful streaming bench entries — every applyInPandasWithState
#: path has a timing series (round-6 verdict item 5)
STREAMING_BENCHES = (
    ("streaming_tumbling_events", _run_streaming),
    ("streaming_session_windows", _run_streaming_sessions),
    ("streaming_quantiles", _run_streaming_quantiles),
    ("streaming_drift", _run_streaming_drift),
    ("streaming_count_trigger", _run_streaming_count_trigger),
    ("streaming_heavy_hitters", _run_streaming_heavy_hitters),
)


# ---------------------------------------------------------------------------
# Streaming steady-state throughput (rows/sec) — round-7 verdict item 6.
# The micro-batch fixture benches above time END-TO-END latency of a
# small availableNow replay; this mode answers the 100x-scale reviewer's
# other question: how many events/sec does each stateful family sustain
# in steady state? Rate source saturates the pipeline (batches grow
# until processing speed = arrival speed, so processedRowsPerSecond IS
# capacity, not input rate), RocksDB is the state backend (the cluster
# configuration; parity vs the HDFS store is pinned by
# tests/test_streaming_state_store.py), and the number reported is
# sum(rows)/sum(trigger time) over the steady-state window (first
# batches dropped — they measure codegen/state-store warm-up).

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _event_shape(src):
    """Project a rate-style source (value, timestamp) onto the event
    shape the streaming operators consume (same columns the parquet
    fixtures carry): 7 activity values, 50k distinct users, values in
    [0, 1100). Shared by the wall-clock rate benches here and the
    rate-micro-batch capacity sweep (scripts/streaming_ceiling.py) so
    the two measurements can never drift onto different event shapes."""
    from pyspark.sql import functions as F

    types = F.array(
        *[
            F.lit(t)
            for t in (
                "view", "click", "signup", "purchase", "login", "logout", "register",
            )
        ]
    )
    return src.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 50000).alias("user_id"),
        F.element_at(types, (F.col("value") % 7 + 1).cast("int")).alias("activity"),
        F.element_at(types, (F.col("value") % 7 + 1).cast("int")).alias("event_type"),
        (F.col("value") % 1100).cast("double").alias("value"),
    )


def _rate_events(spark, rps: int):
    """Wall-clock rate source in the shared event shape."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rps)
        .option("numPartitions", parts)
        .load()
    )
    return _event_shape(src)


def _throughput_builders(spark, rps: int):
    """name -> (streaming DataFrame or query-starter, output mode)."""
    from flink_start_spark.streaming.count_trigger import count_trigger_stream
    from flink_start_spark.streaming.drift import drift_stream
    from flink_start_spark.streaming.heavy_hitters import heavy_hitters_stream
    from flink_start_spark.streaming.pipelines import (
        keyed_tumbling_counts_stream,
        session_window_stream,
        sliding_signup_counts_stream,
        stream_dedup,
        tumbling_signup_counts_stream,
    )
    from flink_start_spark.streaming.quantiles import quantile_stream

    ev = lambda: _rate_events(spark, rps)  # noqa: E731
    return {
        "tumbling": (
            lambda: tumbling_signup_counts_stream(
                ev(), size="3 seconds", watermark="1 second",
                pred_col="activity", pred_value="signup",
            ),
            "update",
        ),
        "keyed_tumbling": (
            lambda: keyed_tumbling_counts_stream(
                ev(), size="3 seconds", watermark="1 second", key_col="activity",
            ),
            "update",
        ),
        "sliding": (
            lambda: sliding_signup_counts_stream(
                ev(), size="3 seconds", slide="1 second", watermark="1 second",
                pred_col="activity", pred_value="signup",
            ),
            "update",
        ),
        "session_windows": (
            lambda: session_window_stream(
                ev(), gap="2 seconds", watermark="1 second", key_col="user_id",
            ),
            "append",
        ),
        "dedup_within_watermark": (
            lambda: stream_dedup(
                ev(), ["user_id", "activity"], watermark="5 seconds",
            ),
            "append",
        ),
        "quantiles": (
            lambda: quantile_stream(
                ev(), "event_type", "value", probs=(0.5, 0.9), lo=0.0, hi=1100.0,
            ),
            "update",
        ),
        "drift_psi": (
            lambda: drift_stream(
                ev(), "event_type", "value", {}, lo=0.0, hi=1100.0,
            ),
            "update",
        ),
        "heavy_hitters": (
            lambda: heavy_hitters_stream(
                ev(), "event_type", "user_id", capacity=64, k=10,
            ),
            "update",
        ),
        "count_trigger": (
            lambda: count_trigger_stream(
                ev(), every=100000, pred_col="event_type", pred_value="purchase",
                order_col="event_id", key_col="event_type",
            ),
            "append",
        ),
    }


def _steady_state_rows_per_sec(progresses: list[dict], warmup_batches: int = 2):
    """sum(rows)/sum(trigger seconds) over post-warm-up batches — the
    batch-size-weighted mean, so one giant catch-up batch counts by its
    duration, not once."""
    usable = [
        p
        for p in progresses
        if p.get("numInputRows", 0) > 0
        and p.get("durationMs", {}).get("triggerExecution")
    ]
    # drop warm-up batches, but never drop ourselves to zero: a short
    # run reports its best-available number instead of null
    drop = min(warmup_batches, max(0, len(usable) - 1))
    usable = usable[drop:]
    rows = sum(p["numInputRows"] for p in usable)
    secs = sum(p["durationMs"]["triggerExecution"] for p in usable) / 1000.0
    if not secs:
        return None, 0
    return round(rows / secs, 1), len(usable)


def _streaming_throughput_mode(spark, args) -> None:
    """Measure steady-state rows/sec for every stateful streaming family
    and write BENCH_STREAMING.json (embedded by the next full bench)."""
    import tempfile

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    # python-worker warm-up (the pandas-state families reuse the pool)
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    load_start = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
    results: dict[str, dict] = {}

    def _measure(name: str, q) -> None:
        """ONE measurement protocol for every family (incl. upsert):
        sleep the window, fail loudly if the query crashed mid-window
        (a dead query's recentProgress residue would otherwise read as
        a plausible steady-state number), else record the batch-size-
        weighted steady-state rate."""
        err = None
        try:
            time.sleep(args.stream_seconds)
            exc = q.exception()
            err = str(exc) if exc is not None else None
            if err is None and not q.isActive:
                # a JVM Error (e.g. StackOverflowError) kills the
                # execution thread WITHOUT surfacing through
                # q.exception() — the residue would read as a plausible
                # steady-state number (observed once: regex
                # StackOverflowError mid-window left 1 steady batch).
                # Re-read exception() first: a NORMAL exception landing
                # between the first read and the isActive check is
                # recoverable and beats the generic message.
                exc = q.exception()
                err = (
                    str(exc)
                    if exc is not None
                    else "query terminated mid-window with no recorded "
                    "exception (JVM Error killed the execution thread)"
                )
            progresses = [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()
            q.awaitTermination(60)
        if err is not None:
            results[name] = {"rows_per_sec": None, "error": err[:400]}
            print(json.dumps({"family": name, "error": err[:200]}),
                  file=sys.stderr)
            return
        rps_meas, n_batches = _steady_state_rows_per_sec(progresses)
        results[name] = {
            "rows_per_sec": rps_meas,
            "steady_batches": n_batches,
            "input_bound": bool(
                rps_meas is not None and rps_meas > 0.9 * args.rate_rps
            ),
        }
        print(json.dumps({"family": name, **results[name]}), file=sys.stderr)

    for name, (build, mode) in _throughput_builders(spark, args.rate_rps).items():
        if args.queries and name not in args.queries:
            continue
        ckpt = tempfile.mkdtemp(prefix=f"sthr_{name}_")
        q = (
            build()
            .writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        _measure(name, q)
    # upsert: foreachBatch latest-per-key parquet store (availableNow by
    # design in streaming/upsert.py) — throughput-measured through the
    # same merge on a processing-time trigger; the per-batch store
    # rewrite is the operator's cost model, so it is IN the number.
    # mirror the loop's truthiness: an EMPTY --queries list means "all
    # families" there, so it must include upsert here too
    if not args.queries or "upsert" in args.queries:
        import tempfile

        from flink_start_spark.streaming.upsert import latest_per_key

        store_dir = tempfile.mkdtemp(prefix="sthr_upsert_store_")
        store = os.path.join(store_dir, "store.parquet")
        ckpt = tempfile.mkdtemp(prefix="sthr_upsert_ckpt_")

        def _merge(batch, batch_id):
            upd = latest_per_key(batch, ["user_id"], ["event_id"])
            import glob as _glob
            import os as _os
            import shutil as _shutil

            tmp = store + "._tmp"
            if _os.path.exists(store) and _glob.glob(_os.path.join(store, "part-*")):
                cur = spark.read.parquet(store).select(*upd.columns)
                merged = latest_per_key(cur.unionByName(upd), ["user_id"], ["event_id"])
            else:
                merged = upd
            merged.write.mode("overwrite").parquet(tmp)
            if _os.path.exists(store):
                _shutil.rmtree(store)
            _os.rename(tmp, store)

        q = (
            _rate_events(spark, args.rate_rps)
            .writeStream.foreachBatch(_merge)
            .option("checkpointLocation", ckpt)
            .start()
        )
        _measure("upsert", q)
    load_end = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
    out = {
        "metric": "streaming_steady_state_rows_per_sec",
        "rate_rows_per_sec": args.rate_rps,
        "seconds_per_family": args.stream_seconds,
        "state_store": "rocksdb",
        "load_avg_start": load_start,
        "load_avg_end": load_end,
        "families": results,
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), args.stream_out
    )
    with open(path, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))


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
    load_start = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
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
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    per_q: dict[str, dict] = {}
    _ruler(spark)  # untimed: the probe's own codegen/JIT warm-up
    ruler_before = _ruler(spark)

    def _mins(fn) -> float:
        return round(min(fn() for _ in range(args.runs)), 3)

    streaming_map = dict(STREAMING_BENCHES)
    for name in names:
        if name in streaming_map:  # streaming entries are addressable too
            continue
        t_a = _mins(lambda: _run_once(spark, name, a_dir))
        t_b = _mins(lambda: _run_once(spark, name, b_dir))
        per_q[name] = {"t_a": t_a, "t_b": t_b, "ratio": round(t_b / max(t_a, 1e-6), 2)}
    stream_names = (
        [n for n in names if n in streaming_map]
        if args.queries is not None
        else [n for n, _ in STREAMING_BENCHES]
    )
    for sname in stream_names:
        fn = streaming_map[sname]
        t_a = _mins(lambda: fn(spark, a_dir))
        t_b = _mins(lambda: fn(spark, b_dir))
        per_q[sname] = {
            "t_a": t_a, "t_b": t_b, "ratio": round(t_b / max(t_a, 1e-6), 2)
        }

    threshold = data_ratio * PAIR_SLACK
    flagged = sorted(
        n for n, v in per_q.items()
        if v["t_b"] > PAIR_FLOOR_SEC and v["ratio"] > threshold
    )
    ruler_after = _ruler(spark)
    load_end = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
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


def main() -> None:
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
        "--streaming-throughput",
        action="store_true",
        help="measure steady-state rows/sec per stateful streaming "
        "family (rate source saturation, RocksDB state store) and "
        "write BENCH_STREAMING.json; --queries limits families",
    )
    ap.add_argument("--rate-rps", type=int, default=400_000,
                    help="rate-source rows/sec for --streaming-throughput "
                    "(set above every family's capacity so batches grow "
                    "until processedRowsPerSecond = capacity)")
    ap.add_argument("--stream-seconds", type=int, default=30,
                    help="wall seconds per family for --streaming-throughput")
    ap.add_argument("--stream-out", default="BENCH_STREAMING.json")
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
    args = ap.parse_args()
    if args.sf_pair:
        spark = get_spark("flink_start_spark_bench")
        _pair_mode(spark, args)
        return
    if args.streaming_throughput:
        spark = get_spark("flink_start_spark_bench")
        _streaming_throughput_mode(spark, args)
        return

    sf_label, _ = _sf_of(args.sf_dir)
    spark = get_spark("flink_start_spark_bench")

    names = args.queries or list(QUERIES)
    # JVM/codegen warm-up on the flagship query (not timed)
    _run_once(spark, names[0], args.sf_dir)
    # Python-worker pool warm-up: the 32 daemon workers spawn lazily on
    # the first pandas UDF — that spawn is session infrastructure, not
    # the cost of whichever pandas query happens to run first.
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # Host-noise guard (round-3 verdict item: r2-vs-r3 artifacts were
    # incomparable because ~15 unchanged queries drifted 1.5-2x from
    # neighbor load): record the 1-min load average at start and warn
    # loudly when the box is already busy, so a noisy artifact is
    # labeled as such instead of read as a regression.
    load_start = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
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
        for sname, fn in STREAMING_BENCHES:
            _record(sname, [fn(spark, args.sf_dir) for _ in range(args.runs)])

    total = round(sum(timings.values()), 3)
    ruler_after = _ruler(spark)
    load_end = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
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
                        "rate_rows_per_sec": pair.get("rate_rows_per_sec"),
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
