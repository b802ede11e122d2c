"""Measure each streaming family's TRUE capacity ceiling (round-9
verdict item 5): round 9 left all 10 families input-bound at the 2M
rows/s wall-clock rate source, which makes 2M a lower bound, not a
measurement.

    python scripts/streaming_ceiling.py [--seconds N] [--families a,b]
    python scripts/streaming_ceiling.py --one <family> <rows_per_batch> <seconds>

Design (second iteration — the first used a wall-clock `rate` ladder
and OOM-killed the shared JVM: with no batch cap, a family slower than
the configured rate accrues an unbounded backlog, and a 16M rows/s
window means a several-hundred-million-row catch-up batch):

- **`rate-micro-batch` source**: every micro-batch carries EXACTLY
  rows_per_batch rows and event time advances 1 s per batch, so state
  is bounded, there is no backlog, and measured rows/sec = processing
  capacity directly — no input-bound ambiguity, no ladder needed.
  Every family runs the full batch-size curve (2M → 4M → 8M rows per
  batch; early-stop only on error) and capacity = the best point —
  per-batch fixed costs (planning, state-store commit) amortize with
  batch size, and the recorded curve shows where they flatten. A
  family still climbing at 8M (mean_batch_sec < 1 s) is reported at
  its 8M point, i.e. its ceiling reads trigger-overhead-bound — the
  per-point mean_batch_sec makes that visible in the artifact.
- **Per-family subprocess isolation** (`--one` recursion): a family
  that kills its JVM cannot take the rest of the sweep with it.
- **Attribution**: a bare source→noop `passthrough` lane measures the
  harness ceiling; a family within 0.85 of it is source-capped, below
  that the bottleneck is the family's own stage, named by execution
  class (JVM windowed aggregation / RocksDB vs Arrow
  applyInPandasWithState vs foreachBatch store rewrite).

Writes BENCH_STREAMING.json (same `families.<name>.rows_per_sec` shape
bench.py's full-run embed reads, plus per-family `rows_per_batch`,
`steady_batches`, `mean_batch_sec`, `bottleneck`).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from flink_start_spark.streaming.count_trigger import count_trigger_stream  # noqa: E402
from flink_start_spark.streaming.drift import drift_stream  # noqa: E402
from flink_start_spark.streaming.heavy_hitters import heavy_hitters_stream  # noqa: E402
from flink_start_spark.streaming.pipelines import (  # noqa: E402
    keyed_tumbling_counts_stream,
    session_window_stream,
    sliding_signup_counts_stream,
    stream_dedup,
    tumbling_signup_counts_stream,
)
from flink_start_spark.streaming.quantiles import quantile_stream  # noqa: E402
from flink_start_spark.streaming.upsert import merge_batch  # noqa: E402

#: RocksDB is the state backend (the cluster configuration; parity vs
#: the HDFS store is pinned by tests/test_streaming_state_store.py)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: families whose stateful stage is an Arrow-batched python worker
PANDAS_FAMILIES = {"quantiles", "drift_psi", "heavy_hitters", "count_trigger"}


def _noop(mode: str, build):
    """A family that drains ``build(events)`` into the noop sink."""
    return lambda ev, workdir: build(ev).writeStream.format("noop").outputMode(mode)


def _upsert(ev, workdir: str):
    """The shipped foreachBatch merge (streaming/upsert.py) on the
    processing-time trigger; the per-batch store rewrite is the
    operator's cost model, so it is IN the number."""
    store = os.path.join(workdir, "store.parquet")
    return ev.writeStream.foreachBatch(
        lambda batch, _id: merge_batch(batch, store, ["user_id"], ["event_id"])
    )


#: family -> (events DataFrame, scratch dir) -> unstarted DataStreamWriter
FAMILIES = {
    "passthrough": _noop("append", lambda ev: ev),
    "tumbling": _noop("update", lambda ev: tumbling_signup_counts_stream(
        ev, size="3 seconds", watermark="1 second",
        pred_col="activity", pred_value="signup",
    )),
    "keyed_tumbling": _noop("update", lambda ev: keyed_tumbling_counts_stream(
        ev, size="3 seconds", watermark="1 second", key_col="activity",
    )),
    "sliding": _noop("update", lambda ev: sliding_signup_counts_stream(
        ev, size="3 seconds", slide="1 second", watermark="1 second",
        pred_col="activity", pred_value="signup",
    )),
    "session_windows": _noop("append", lambda ev: session_window_stream(
        ev, gap="2 seconds", watermark="1 second", key_col="user_id",
    )),
    "dedup_within_watermark": _noop("append", lambda ev: stream_dedup(
        ev, ["user_id", "activity"], watermark="5 seconds",
    )),
    "quantiles": _noop("update", lambda ev: quantile_stream(
        ev, "event_type", "value", probs=(0.5, 0.9), lo=0.0, hi=1100.0,
    )),
    "drift_psi": _noop("update", lambda ev: drift_stream(
        ev, "event_type", "value", {}, lo=0.0, hi=1100.0,
    )),
    "heavy_hitters": _noop("update", lambda ev: heavy_hitters_stream(
        ev, "event_type", "user_id", capacity=64, k=10,
    )),
    "count_trigger": _noop("append", lambda ev: count_trigger_stream(
        ev, every=100000, pred_col="event_type", pred_value="purchase",
        order_col="event_id", key_col="event_type",
    )),
    "upsert": _upsert,
}

BATCH_SIZES = [2_000_000, 4_000_000, 8_000_000]


def _mb_events(spark, rows_per_batch: int):
    """rate-micro-batch source (a FIXED per-batch row count, event time
    advancing 1 s per batch: bounded state, zero backlog) projected onto
    the event shape the streaming operators consume (same columns the
    parquet fixtures carry): 7 activity values, 50k distinct users,
    values in [0, 1100)."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("advanceMillisPerBatch", 1000)  # event time: 1 s/batch
        .option("numPartitions", parts)
        .load()
    )
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


def _build_query(spark, name: str, rows_per_batch: int, workdir: str):
    """Start the family's streaming query against the micro-batch
    source, with its checkpoint (and any store) under ``workdir``;
    returns the StreamingQuery."""
    ev = _mb_events(spark, rows_per_batch)
    return (
        FAMILIES[name](ev, workdir)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )


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


def _one(name: str, rows_per_batch: int, seconds: int) -> None:
    """Subprocess body: measure ONE family at one batch size and print
    a single JSON line."""
    from flink_start_spark.session import get_spark, warm_python_workers

    spark = get_spark("streaming_ceiling")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    warm_python_workers(spark)

    err = None
    # checkpoint and upsert store are scratch: removed with the query
    with tempfile.TemporaryDirectory(prefix=f"sceil_{name}_") as workdir:
        q = _build_query(spark, name, rows_per_batch, workdir)
        try:
            time.sleep(seconds)
            exc = q.exception()
            err = str(exc) if exc is not None else None
            if err is None and not q.isActive:
                exc = q.exception()
                err = str(exc) if exc is not None else "query died mid-window"
            progresses = [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()
            q.awaitTermination(60)
    if err is not None:
        print(json.dumps({"rows_per_sec": None, "error": err[:400]}))
        return
    rps, n = _steady_state_rows_per_sec(progresses)
    durs = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in progresses
        if p.get("numInputRows", 0) > 0
        and p.get("durationMs", {}).get("triggerExecution")
    ]
    print(
        json.dumps(
            {
                "rows_per_sec": rps,
                "steady_batches": n,
                "mean_batch_sec": round(sum(durs) / len(durs), 2) if durs else None,
            }
        )
    )


def _spawn(name: str, rows_per_batch: int, seconds: int) -> dict:
    """Run one (family, batch size) measurement in an isolated python
    subprocess; a JVM death there becomes an error record, not a sweep
    abort."""
    try:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--one",
                name,
                str(rows_per_batch),
                str(seconds),
            ],
            capture_output=True,
            text=True,
            timeout=seconds + 240,
        )
    except subprocess.TimeoutExpired:
        # a WEDGED child (JVM hung rather than dead — the exact case
        # isolation exists for) must become an error record like any
        # other child failure, not abort the sweep and lose every
        # family already measured
        return {
            "rows_per_sec": None,
            "error": f"subprocess timeout after {seconds + 240}s (hung JVM)",
        }
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                continue
    tail = (proc.stderr or proc.stdout or "").strip().splitlines()[-3:]
    return {"rows_per_sec": None, "error": " | ".join(tail)[:400]}


def main() -> int:
    argv = sys.argv[1:]
    if argv and argv[0] == "--one":
        _one(argv[1], int(argv[2]), int(argv[3]))
        return 0

    seconds = 30
    only = None
    if "--seconds" in argv:
        seconds = int(argv[argv.index("--seconds") + 1])
    if "--families" in argv:
        only = set(argv[argv.index("--families") + 1].split(","))
    load_start = round(os.getloadavg()[0], 2)  # before the sweep inflates it

    results: dict[str, dict] = {}
    for name in FAMILIES:
        if only and name not in only and name != "passthrough":
            continue
        curve = []
        for rpb in BATCH_SIZES:
            pt = _spawn(name, rpb, seconds)
            pt["rows_per_batch"] = rpb
            curve.append(pt)
            print(json.dumps({"family": name, **pt}), file=sys.stderr, flush=True)
            if pt.get("error"):
                break
        # capacity = best point on the batch-size curve (per-batch
        # fixed costs — planning, state-store commit — amortize with
        # batch size; the curve shows where it flattens)
        best = max(
            (p for p in curve if p.get("rows_per_sec")),
            key=lambda p: p["rows_per_sec"],
            default=curve[-1],
        )
        results[name] = {**best, "curve": curve}

    pt_max = results.get("passthrough", {}).get("rows_per_sec") or float("inf")
    for name, rec in results.items():
        if name == "passthrough" or rec.get("error"):
            continue
        rps = rec.get("rows_per_sec")
        if rps is not None and rps >= 0.85 * pt_max:
            rec["bottleneck"] = "source+projection ceiling (matches passthrough)"
        elif name in PANDAS_FAMILIES:
            rec["bottleneck"] = "python stateful stage (applyInPandasWithState)"
        elif name == "upsert":
            rec["bottleneck"] = "foreachBatch latest-per-key store rewrite"
        else:
            rec["bottleneck"] = "jvm windowed aggregation / RocksDB state store"

    out = {
        "metric": "streaming_steady_state_rows_per_sec",
        "mode": "rate_micro_batch_capacity",
        "batch_sizes": BATCH_SIZES,
        "seconds_per_measurement": seconds,
        "state_store": "rocksdb",
        "load_avg_start": load_start,
        "load_avg_end": round(os.getloadavg()[0], 2),
        "families": results,
    }
    with open(os.path.join(REPO, "BENCH_STREAMING.json"), "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
