"""Batch workloads: a fixed list of catalog queries run pass after pass.

One pass runs every query of the workload in a seed-permuted order. Each
query is built (``QUERIES[name].spark``), planned
(``queryExecution().executedPlan()``), executed by collecting its result
as Arrow (``toArrow``), and its caches released (``cache.release``). The
first pass is the cold pass; then come ``WARMUP_PASSES`` untimed passes
and ``seconds / SECONDS_PER_PASS`` timed warm passes. After each pass,
outside its timing, every result is compared with the query's DuckDB
oracle, computed once per run on the same parquet files, so each execution
is checked.

In a traced run, warm passes alternate between untraced and traced. A
traced pass records spans around the calls above and around every
``load_table`` call (wrapped at the bindings the plan modules imported),
and tags each query's Spark jobs with a job group so the status store can
attribute jobs, stages, tasks and bytes to the query.
"""

from __future__ import annotations

import random
import statistics
import sys
import time

from perfbench.harness import Tracer, drain_listener_bus, group_counters

#: Short queries from plans/catalog.py, plans/sql_surface.py and
#: plans/tpch.py, reading one to eight tables each: plan build,
#: load_table and job launch dominate them.
RELATIONAL = [
    "keyed_tumbling_counts",
    "session_windows_per_user",
    "pricing_summary",
    "top_customers_per_nation",
    "revenue_grouping_sets",
    "nation_market_share",
    "disjunctive_discounted_revenue",
]

#: Untimed passes between the cold pass and the timed ones: query times
#: fall by about a third over the first passes while the JVM compiles the
#: hot paths, and a timed pass should see the steady state.
WARMUP_PASSES = 2

#: A run makes one timed warm pass per this many of its seconds (at least two).
#: Counting passes instead of watching the clock gives every run of a
#: workload, on any commit, the same work to time.
SECONDS_PER_PASS = 4.0

#: The tables the queries read: a copy of the engine's sf0.01 test data
#: (``perfbench/data/sf0.01``), so the benchmark needs nothing outside its
#: checkout.
TABLES = "region nation customer supplier part orders lineitem events".split()


def _install_load_table_probe(tracer: Tracer, query: list[str]):
    """Wrap ``load_table`` wherever a program module imported it, so every
    call is a ``load_table`` span. Returns a function that undoes it, and
    the one-element list counting the calls."""
    from flink_start_spark.sources import catalog as src

    original = src.load_table
    counter = [0]

    def load_table(*args, **kwargs):
        counter[0] += 1
        with tracer.span("load_table", query[0]):
            return original(*args, **kwargs)

    patched = []
    for name, mod in list(sys.modules.items()):
        if name.startswith("flink_start_spark.") and getattr(mod, "load_table", None) is original:
            mod.load_table = load_table
            patched.append(mod)

    def restore() -> None:
        for mod in patched:
            mod.load_table = original

    return restore, counter


class BatchRun:
    def __init__(self, spark, names: list[str], sf_dir: str, tracer: Tracer, inject_wrong: bool):
        import duckdb

        from flink_start_spark import cache
        from flink_start_spark.plans import QUERIES

        self.spark = spark
        self.names = names
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.cache = cache
        self.queries = QUERIES
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self.expected = {n: con.execute(QUERIES[n].oracle).df() for n in names}
        con.close()
        if inject_wrong:  # drop one expected row
            first = sorted(names)[0]
            self.expected[first] = self.expected[first].iloc[1:]

    def one_pass(self, tag: str, traced: bool) -> tuple[float, dict[str, float], dict]:
        """Run every query once. Returns the pass time, each query's wall
        time, and (traced) the pass's layer self times and counters."""
        sc = self.spark.sparkContext
        tr = self.tracer if traced else Tracer(False, "")
        current = [""]
        restore, loads = _install_load_table_probe(tr, current) if traced else (None, [0])
        times: dict[str, float] = {}
        results = {}
        released = 0
        groups_build, groups_exec = [], []
        root = len(tr.spans)
        t_pass = time.perf_counter()
        try:
            with tr.span("pass"):
                for name in self.names:
                    current[0] = name
                    self.attempted += 1
                    t0 = time.perf_counter()
                    with tr.span("query", name):
                        try:
                            if traced:
                                groups_build.append(f"{tag}/{name}/build")
                                sc.setJobGroup(groups_build[-1], name)
                            with tr.span("build", name):
                                df = self.queries[name].spark(self.spark, self.sf_dir)
                            if traced:
                                groups_exec.append(f"{tag}/{name}/exec")
                                sc.setJobGroup(groups_exec[-1], name)
                            with tr.span("plan", name):
                                df._jdf.queryExecution().executedPlan()
                            with tr.span("exec", name):
                                results[name] = df.toArrow()
                        except Exception as e:  # a failed query is counted, the pass goes on
                            self.failed += 1
                            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                        finally:
                            with tr.span("release", name):
                                released += self.cache.release()
                    times[name] = time.perf_counter() - t0
        finally:
            if restore:
                restore()
                sc.setJobGroup("", "")
        pass_s = time.perf_counter() - t_pass
        self._check(results)
        if not traced:
            return pass_s, times, {}
        drain_listener_bus(self.spark)
        build = group_counters(self.spark, groups_build)
        stats = group_counters(self.spark, groups_exec)
        stats["sources.input_bytes"] += build["sources.input_bytes"]
        stats.update(tr.self_times(root))
        stats["trace.pass_s"] = tr.spans[root].end - tr.spans[root].start
        stats["plans.build_jobs"] = build["exec.jobs"]
        stats["sources.load_table_calls"] = loads[0]
        stats["cache.released"] = released
        return pass_s, times, stats

    def _check(self, results: dict) -> None:
        """Compare each collected result with its oracle."""
        for name, table in results.items():
            try:
                problem = frames_differ(table.to_pandas(), self.expected[name])
            except Exception as e:  # an uncomparable result is a wrong one
                problem = f"{type(e).__name__}: {str(e)[:300]}"
            if problem:
                self.failed += 1
                self.errors.append(f"{name}: wrong result: {problem}")


def _normalize(df):
    """Sorted columns, floats rounded to 6 places, integers as int64, rows
    sorted: results compare as unordered sets."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_differ(got, want) -> str:
    """Empty string when ``got`` equals ``want`` as an unordered set of rows
    (floats to 6 places, integers exactly), else what differs."""
    import pandas as pd

    s, o = _normalize(got), _normalize(want)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    int_cols = [c for c in s.columns if s[c].dtype.kind in "iu"]
    if int_cols and not s[int_cols].equals(o[int_cols].round().astype("int64")):
        return f"integer columns differ: {int_cols}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6)
    except AssertionError as e:
        return str(e)[:300]
    return ""


def run(spark, names: list[str], sf_dir: str, seed: int, seconds: float, traced: bool,
        inject_wrong: bool, run_id: str, spans_out: str) -> tuple[dict, dict, BatchRun]:
    """Cold pass, then the warm passes ``seconds`` asks for.
    Returns (end-to-end values, mean per-layer values over traced passes,
    the run for its counts). A traced run writes its spans to ``spans_out``."""
    order = list(names)
    random.Random(seed).shuffle(order)
    tracer = Tracer(True, run_id)
    br = BatchRun(spark, order, sf_dir, tracer, inject_wrong)

    cold_s, cold_times, _ = br.one_pass("cold", traced=False)
    for k in range(WARMUP_PASSES):
        br.one_pass(f"{run_id}/w{k}", traced=False)
    warm, traced_passes, per_query, warm_times = [], [], [], []
    for k in range(max(2, round(seconds / SECONDS_PER_PASS))):
        with_trace = traced and k % 2 == 1
        pass_s, times, stats = br.one_pass(f"{run_id}/p{k}", traced=with_trace)
        if with_trace:
            traced_passes.append(stats)
        else:
            warm.append(pass_s)
            warm_times.append(times)
            per_query.extend(times.values())

    for name in order:
        print(f"query {name}: " + " ".join(f"{t:.3f}" for t in [cold_times[name]] + [p[name] for p in warm_times]))
    # Query times cluster by query, so a median over all of them jumps
    # between clusters; the geometric mean of each query's median does not.
    medians = [statistics.median(p[name] for p in warm_times) for name in order]
    e2e = {
        "cold_s": cold_s,
        "latency_s": statistics.geometric_mean(medians),
        "latency_p90_s": statistics.quantiles(per_query, n=10, method="inclusive")[-1],
        "rate_per_s": len(medians) / sum(medians),
        "pass_s": statistics.median(warm),
        "passes": len(warm),
        "samples": len(per_query),
    }
    layers: dict[str, float] = {}
    if traced_passes:
        for key in traced_passes[0]:
            layers[key] = sum(p.get(key, 0.0) for p in traced_passes) / len(traced_passes)
        layers["trace.overhead_s"] = layers["trace.pass_s"] - sum(warm) / len(warm)
        tracer.dump(spans_out)
    return e2e, layers, br
