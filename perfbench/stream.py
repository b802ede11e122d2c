"""Stream workload: an open-loop JSON-lines user-activity stream through the
engine's Structured Streaming pipelines, one query at a time.

The events are generated before the query starts (``gen.activity_stream``)
and staged as one file per release slot. A single releaser thread renames
each file into the watched directory at its due time, whatever the engine
is doing, so a slow engine meets a growing backlog rather than a slower
generator. The source (``stream_user_activity``) takes every released file
in each micro-batch.

The first files of the schedule are a warm-up: they are checked like the
rest but left out of the latency and rate figures. A file's latency runs
from its due time to the end of the micro-batch that consumed it. The
file-to-batch mapping is read from the checkpoint's source log (the
numbered batch files and the ``N.compact`` files that fold earlier ones);
batch end times, phase durations and state-store figures come from
``StreamingQuery.recentProgress``.

After the schedule a sentinel event far in the future lifts the watermark
past every window and session, so the final results are complete and are
compared with a recompute over the generated events minus the malformed
and late ones.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import threading
import time
from collections import Counter

from perfbench.gen import STREAM_EPOCH, Stream, primer_file, sentinel_file
from perfbench.harness import STAGE_COUNTERS, drain_listener_bus, group_counters

WINDOW_S = 3
WATERMARK = "500 milliseconds"
#: At 4000 events/s over the generator's Zipf users (exponent 0.8, 200k
#: ids) a 4 s gap keeps over 10^4 sessions open at once.
SESSION_GAP_S = 4
#: Micro-batches start on this fixed interval. One interval's events take
#: about half of it, so the engine runs below capacity, and a batch's size
#: does not depend on how long the previous batch took.
TRIGGER = "1 second"
SENTINEL_AFTER_S = 60.0


def _queries():
    from flink_start_spark.streaming import keyed_tumbling_counts_stream, session_window_stream

    return {
        "keyed_tumbling_counts_stream": lambda ev: keyed_tumbling_counts_stream(
            ev, size=f"{WINDOW_S} seconds", watermark=WATERMARK),
        "session_window_stream": lambda ev: session_window_stream(
            ev, gap=f"{SESSION_GAP_S} seconds", watermark=WATERMARK),
    }


QUERIES = ["keyed_tumbling_counts_stream", "session_window_stream"]


def _us(ts) -> int:
    """Pandas/py timestamp (UTC) -> microseconds after STREAM_EPOCH."""
    t = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return round((t - STREAM_EPOCH).total_seconds() * 1e6)


def expected(name: str, stream: Stream) -> Counter:
    """The final result recomputed from the generated valid events."""
    out: Counter = Counter()
    if name == "keyed_tumbling_counts_stream":
        w, epoch = WINDOW_S * 10**6, int(STREAM_EPOCH.timestamp()) * 10**6
        for _, act, ts in stream.valid:
            out[(ts - (epoch + ts) % w, act)] += 1
        return out
    gap = SESSION_GAP_S * 10**6
    by_user: dict[str, list[int]] = {}
    for user, _, ts in stream.valid:
        by_user.setdefault(user, []).append(ts)
    for user, tss in by_user.items():
        tss.sort()
        start, end, n = tss[0], tss[0] + gap, 1
        for ts in tss[1:]:
            if ts <= end:  # touching sessions merge, as in Spark
                end, n = max(end, ts + gap), n + 1
            else:
                out[(user, start, end, n)] += 1
                start, end, n = ts, ts + gap, 1
        out[(user, start, end, n)] += 1
    return out


def observed(name: str, pdf) -> Counter:
    if name == "keyed_tumbling_counts_stream":
        out: Counter = Counter()
        for r in pdf.itertuples():
            if r.activity != "primer":
                out[(_us(r.window_start), r.activity)] += int(r.cnt)
        return out
    return Counter(
        (r.user_id, _us(r.session_start), _us(r.session_end), int(r.n_events))
        for r in pdf.itertuples() if r.user_id not in ("primer", "sentinel")
    )


def _source_log(checkpoint: str) -> dict[str, int]:
    """File name -> the source's log offset, from every batch and compact
    file of the checkpoint's file-source log. The log offset is the
    source's own count of listings that found new files, not the
    micro-batch id: batches without new data (a watermark move) take none."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if path.endswith(".tmp") or os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _batch_of_offset(progress: list[dict]) -> dict[int, int]:
    """Source log offset -> id of the micro-batch that read it, from each
    batch's start and end offsets."""
    out: dict[int, int] = {}
    for p in progress:
        src = p["sources"][0]
        start, end = src.get("startOffset"), src.get("endOffset")
        lo = -1 if start is None else int(start["logOffset"])
        for off in range(lo + 1, (lo if end is None else int(end["logOffset"])) + 1):
            out[off] = p["batchId"]
    return out


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Releaser(threading.Thread):
    """Renames staged files into the watched directory on a fixed schedule
    and records how late each rename ran."""

    def __init__(self, stage: str, target: str, names: list[str], t0: float, interval_s: float):
        super().__init__(name="releaser", daemon=True)
        self.stage, self.target, self.names = stage, target, names
        self.due = [t0 + i * interval_s for i in range(len(names))]
        self.lag: list[float] = []

    def run(self) -> None:
        for name, due in zip(self.names, self.due):
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(self.stage, name), os.path.join(self.target, name))
            self.lag.append(time.time() - due)


def _wait(cond, timeout_s: float, what: str) -> None:
    end = time.monotonic() + timeout_s
    while not cond():
        if time.monotonic() > end:
            raise TimeoutError(what)
        time.sleep(0.05)


def run_query(spark, name: str, stream: Stream, warmup_files: int, work: str, traced: bool) -> dict:
    """Run one streaming query over the whole schedule and return its
    figures (see ``run`` for their use). The first ``warmup_files`` files
    and the batches that consumed them are left out of the timings."""
    from flink_start_spark import cache
    from flink_start_spark.streaming import stream_user_activity

    stage, watched, ckpt = (os.path.join(work, f"{name}-{d}") for d in ("stage", "in", "ckpt"))
    os.makedirs(stage)
    os.makedirs(watched)
    names = [f"f{i:05d}.json" for i in range(len(stream.files) + 1)]
    for fname, text in zip(["primer.json"] + names,
                           [primer_file()] + stream.files + [sentinel_file(SENTINEL_AFTER_S)]):
        with open(os.path.join(stage, fname), "w") as fh:
            fh.write(text)

    # keep every progress record: a fast engine makes more, shorter batches
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    t0 = time.perf_counter()
    events = stream_user_activity(spark, watched, max_files_per_trigger=1_000_000)
    out = _queries()[name](events)
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    q = (out.writeStream.format("memory").queryName(name).outputMode("append")
         .option("checkpointLocation", ckpt).trigger(processingTime=TRIGGER).start())
    start_s = time.perf_counter() - t0
    try:
        _wait(lambda: q.status["message"] != "Initializing sources", 30, "query start")
        # The primer's batch pays the cold start and sets the first
        # watermark. Spark drops late rows by the previous batch's
        # watermark, so the schedule waits for the batch after the primer's
        # (the one that evicts by the new watermark): else late rows in the
        # first scheduled batch would be kept.
        os.rename(os.path.join(stage, "primer.json"), os.path.join(watched, "primer.json"))

        def primed() -> bool:
            progress = q.recentProgress
            data = [p.batchId for p in progress if p.numInputRows]
            return bool(data) and max(p.batchId for p in progress) > min(data)

        _wait(primed, 60, "primer batch")
        n = len(stream.files)
        rel = Releaser(stage, watched, names[:n], time.time() + 0.2, stream.interval_s)
        rel.start()
        rel.join()
        os.rename(os.path.join(stage, names[n]), os.path.join(watched, names[n]))
        target_ms = (STREAM_EPOCH.timestamp() + SENTINEL_AFTER_S) * 1000 - 1000

        def drained() -> bool:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            for p in q.recentProgress:
                wm = p.eventTime.get("watermark") if p.eventTime else None
                if wm and _epoch(wm) * 1000 >= target_ms:
                    return True
            return False

        _wait(drained, 60, "final watermark")
        progress = [json.loads(p.json) for p in q.recentProgress]
        run_id = str(q.runId)
    finally:
        q.stop()
    result = spark.table(name).toPandas()
    t0 = time.perf_counter()
    released = cache.release()
    release_s = time.perf_counter() - t0

    offset_batch = _batch_of_offset(progress)
    batch_of = {f: offset_batch.get(off) for f, off in _source_log(ckpt).items()}
    ends = {p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
            for p in progress}
    latencies, unconsumed = [], 0
    for i, (fname, due) in enumerate(zip(names[:n], rel.due)):
        b = batch_of.get(fname)
        if b is None or b not in ends:
            unconsumed += 1
        elif i >= warmup_files:
            latencies.append(ends[b] - due)
    # backlog: files released but not yet consumed, seen at each release
    consumed_at = sorted(ends[batch_of[f]] for f in names[:n] if batch_of.get(f) in ends)
    backlog = max((i + 1 - sum(1 for c in consumed_at if c <= due) for i, due in enumerate(rel.due)), default=0)

    first = min((p for p in progress if p["numInputRows"] > 0), key=lambda p: p["batchId"])
    progress = [p for p in progress if p["batchId"] > first["batchId"]]
    # the rate counts only the batches after the one that took the last warm-up file
    warm = batch_of.get(names[warmup_files - 1], first["batchId"]) if warmup_files else first["batchId"]
    measured = [p for p in progress if p["batchId"] > warm]
    data = [p for p in progress if p["numInputRows"] > 0]
    dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress) / 1000.0  # noqa: E731
    state_ops = [op for p in progress for op in p.get("stateOperators", [])]
    fig = {
        "name": name,
        "latencies": latencies,
        "unconsumed": unconsumed,
        "cold_s": start_s + first["durationMs"]["triggerExecution"] / 1000.0,
        "rows": sum(p["numInputRows"] for p in progress),
        "batches": len(data),
        "busy_s": dur("triggerExecution"),
        "measured_rows": sum(p["numInputRows"] for p in measured),
        "measured_busy_s": sum(p["durationMs"]["triggerExecution"] for p in measured) / 1000.0,
        "schedule_s": n * stream.interval_s,
        "generator_lag_s": max(rel.lag, default=0.0),
        "sources.s": dur("latestOffset") + dur("getBatch"),
        "catalyst.plan_s": dur("queryPlanning"),
        "exec.s": dur("addBatch"),
        "log_commit_s": dur("walCommit") + dur("commitOffsets"),
        "state_commit_s": sum(op.get("commitTimeMs", 0) for op in state_ops) / 1000.0,
        "state.rows_total": max((op.get("numRowsTotal", 0) for op in state_ops), default=0),
        "state.memory_bytes": max((op.get("memoryUsedBytes", 0) for op in state_ops), default=0),
        "dropped": sum(op.get("numRowsDroppedByWatermark", 0) for op in state_ops),
        "backlog_files_max": backlog,
        "plans.build_s": build_s,
        "cache.release_s": release_s,
        "cache.released": released,
        "result": result,
    }
    if traced:
        t0 = time.perf_counter()
        drain_listener_bus(spark)
        fig.update(group_counters(spark, [run_id]))
        fig["trace.overhead_s"] = time.perf_counter() - t0
        fig["progress"] = progress
    return fig


def run(spark, stream: Stream, warmup_files: int, work: str, traced: bool, inject_wrong: bool,
        progress_out: str) -> tuple[dict, dict, dict]:
    """Run every query; returns (end-to-end values, per-layer values,
    counts: attempted, failed, errors, generator lag). A traced run writes
    each query's progress records to ``progress_out``."""
    attempted = failed = 0
    errors: list[str] = []
    figs = []
    for i, name in enumerate(QUERIES):
        attempted += len(stream.files) + 2  # every file, the result, the late count
        try:
            fig = run_query(spark, name, stream, warmup_files, work, traced)
        except Exception as e:  # the query's work is lost; count it and go on
            failed += len(stream.files) + 2
            errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        figs.append(fig)
        failed += fig["unconsumed"]
        want = expected(name, stream)
        if inject_wrong and i == 0:
            want[next(iter(want))] += 1
        got = observed(name, fig["result"])
        if got != want:
            failed += 1
            errors.append(f"{name}: wrong result: {sum((got - want).values())} rows unexpected, "
                          f"{sum((want - got).values())} missing")
        # Session windows count every late input row. The windowed count
        # filters late rows after partial aggregation, so it counts the
        # partial groups they formed: at least one, at most one per row.
        dropped_ok = (fig["dropped"] == stream.late if name == "session_window_stream"
                      else 0 < fig["dropped"] <= stream.late)
        if not dropped_ok:
            failed += 1
            errors.append(f"{name}: {fig['dropped']} rows dropped by the watermark, {stream.late} generated late")
    counts = {"attempted": attempted, "failed": failed, "errors": errors,
              "generator_lag_s": max((f["generator_lag_s"] for f in figs), default=0.0)}
    lat = [x for f in figs for x in f["latencies"]]
    if len(lat) < 2:  # nothing measurable; the failures are counted above
        return {}, {}, counts

    busy = sum(f["busy_s"] for f in figs)
    rows = sum(f["rows"] for f in figs)
    batches = sum(f["batches"] for f in figs)
    e2e = {
        "cold_s": sum(f["cold_s"] for f in figs),
        "latency_s": statistics.median(lat),
        "latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1],
        "rate_per_s": sum(f["measured_rows"] for f in figs) / sum(f["measured_busy_s"] for f in figs),
        "samples": len(lat),
    }
    total = lambda key: sum(f.get(key, 0.0) for f in figs)  # noqa: E731
    layers = {
        "plans.build_s": total("plans.build_s"),
        "sources.s": total("sources.s"),
        "catalyst.plan_s": total("catalyst.plan_s"),
        "exec.s": total("exec.s"),
        "cache.release_s": total("cache.release_s"),
        "cache.released": total("cache.released"),
        "harness.self_s": busy - total("sources.s") - total("catalyst.plan_s") - total("exec.s"),
        "trace.pass_s": busy,
        "streaming.batches": batches,
        "streaming.rows_per_batch": rows / max(batches, 1),
        "streaming.busy_share": busy / total("schedule_s"),
        "streaming.log_commit_share": total("log_commit_s") / busy,
        "streaming.backlog_files_max": max(f["backlog_files_max"] for f in figs),
        "state.rows_total": max(f["state.rows_total"] for f in figs),
        "state.memory_bytes": max(f["state.memory_bytes"] for f in figs),
        "state.commit_share": total("state_commit_s") / busy,
        "state.rows_dropped_by_watermark": total("dropped"),
    }
    if traced:
        with open(progress_out, "w") as fh:
            json.dump({f["name"]: f["progress"] for f in figs}, fh)
        for key in STAGE_COUNTERS + ("trace.overhead_s",):
            layers[key] = total(key)
    return e2e, layers, counts
