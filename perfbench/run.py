"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --max-cpus 2 --driver-mem 1g --workload batch-relational --seed 1 --seconds 16 --trace 0

Prints each metric as ``name value unit`` lines, the host's health beside
them, and as the last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
#: The batch workload's tables: the engine's sf0.01 test data.
BATCH_DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")

WORKLOADS = ("batch-relational", "stream-windows-sessions")

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "latency_s": "s",
    "latency_p90_s": "s",
    "rate_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sources.s": "s",
    "sources.load_table_calls": "count",
    "sources.input_bytes": "bytes",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.occupancy": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "cache.release_s": "s",
    "cache.released": "count",
    "harness.self_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.busy_share": "ratio",
    "streaming.log_commit_share": "ratio",
    "streaming.backlog_files_max": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_share": "ratio",
    "state.rows_dropped_by_watermark": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}

#: Events per second released into the stream, and the file cadence.
STREAM_RATE_EPS = 4000
STREAM_INTERVAL_S = 0.05
#: Schedule each stream query meets before its timed part: its first
#: batches run slower while the JVM compiles the hot paths.
STREAM_WARMUP_S = 6.0


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--max-cpus", type=int, default=2,
                   help="Spark local cores: min(this, nproc)")
    p.add_argument("--driver-mem", default="1g", help="Spark driver heap")
    p.add_argument("--inject-wrong", action="store_true",
                   help="corrupt one expected result (self-test of the checks)")
    return p.parse_args(argv)


def _configure(args: argparse.Namespace, run_dir: str) -> int:
    """Fit Spark to the host before the JVM starts; returns the core count."""
    cpus = max(1, min(args.max_cpus, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.makedirs(os.environ["TMPDIR"])
    return cpus


def _warm_session():
    """Start the session and run one small job; returns the session and
    the time ``session.get_spark`` took."""
    from flink_start_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    (spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count()
     .write.format("noop").mode("overwrite").save())
    return spark, start_s


def _stop_jvm(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    from perfbench.harness import descendants

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv: list[str]) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flink_start_spark")):
        print(f"perfbench: no flink_start_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        cpus = _configure(args, run_dir)
        os.chdir(run_dir)
        return _run(args, cpus, run_dir, harness)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cpus: int, run_dir: str, harness) -> int:
    cpu0 = harness.cpu_times()
    with harness.RssSampler() as rss:
        spark, start_s = _warm_session()
        import flink_start_spark.plans  # noqa: F401  (registers the catalog)

        setup_s = time.time() - harness.process_start_epoch()
        try:
            e2e, layers, counts = _workload(spark, args, run_dir)
        finally:
            _stop_jvm(spark)
    e2e["setup_s"] = setup_s
    layers["session.start_s"] = start_s
    layers["session.peak_rss_mb"] = e2e["peak_rss_mb"] = rss.peak / 2**20
    layers["exec.occupancy"] = layers.get("exec.task_s", 0.0) / max(layers.get("exec.s", 0.0) * cpus, 1e-9)
    host = {"steal_pct": harness.steal_pct(cpu0, harness.cpu_times()),
            "load1": os.getloadavg()[0], "cpus": cpus, "driver_mem": args.driver_mem}

    for err in counts["errors"]:
        print(f"error: {err}")
    print(f"host: {json.dumps(host)}")
    print(f"harness: {json.dumps({k: v for k, v in counts.items() if k != 'errors'})}")
    wanted = PER_LAYER if args.trace else END_TO_END
    for name, value in sorted(e2e.items()):
        if name not in END_TO_END:
            print(f"{name} {value}")
    metrics = {}
    for name, unit in wanted.items():
        value = (layers if args.trace else e2e).get(name, 0)
        metrics[name] = {"value": value, "unit": unit}
        print(f"{name} {value} {unit}")
    failed = counts["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": counts["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


def _workload(spark, args, run_dir: str) -> tuple[dict, dict, dict]:
    run_id = f"{args.workload}-{args.seed}"
    if args.workload == "batch-relational":
        from perfbench import batch

        e2e, layers, br = batch.run(spark, batch.RELATIONAL, BATCH_DATA, args.seed, args.seconds,
                                    bool(args.trace), args.inject_wrong, run_id,
                                    os.path.join(WORK, f"spans-{run_id}.tsv"))
        return e2e, layers, {"attempted": br.attempted, "failed": br.failed, "errors": br.errors}
    from perfbench import gen, stream

    # the two queries share the measured schedule: half the run each
    events = gen.activity_stream(args.seed, STREAM_RATE_EPS,
                                 STREAM_WARMUP_S + args.seconds / len(stream.QUERIES), STREAM_INTERVAL_S)
    return stream.run(spark, events, round(STREAM_WARMUP_S / STREAM_INTERVAL_S), run_dir,
                      bool(args.trace), args.inject_wrong, os.path.join(WORK, f"progress-{run_id}.json"))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
