"""Fast self-test of the benchmark itself (about four minutes).

    python3 perfbench/selftest.py

Runs the batch workload with its fewest passes and short stream runs,
each untraced and traced, and checks that:

- every end-to-end metric (untraced) or per-layer metric (traced) of
  BENCHMARK.json is printed, with its unit, in the final JSON line and as
  a ``name value unit`` line;
- clean runs report no failure;
- a deliberately wrong expected result (``--inject-wrong``) is counted as
  failed;
- on a traced batch run, the layers' self times sum to the traced pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, seconds: float, trace: int, inject: bool) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)]
    if inject:
        cmd.append("--inject-wrong")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cases = [
        ("batch-relational", 4, 0, False),
        ("batch-relational", 4, 1, True),
        ("stream-windows-sessions", 2, 0, False),
        ("stream-windows-sessions", 2, 1, True),
    ]
    for workload, seconds, trace, inject in cases:
        out, lines = _run(workload, seconds, trace, inject)
        tag = f"{workload} trace={trace} inject={inject}"
        wanted = bench["per_layer" if trace else "end_to_end"]
        _check(set(out) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys {sorted(out)}")
        _check(set(out["metrics"]) == {m["name"] for m in wanted}, f"{tag}: metric names")
        for m in wanted:
            got = out["metrics"][m["name"]]
            _check(got["unit"] == m["unit"], f"{tag}: unit of {m['name']}")
            _check(any(line.split() == [m["name"], str(got["value"]), m["unit"]] for line in lines),
                   f"{tag}: no '{m['name']} value {m['unit']}' line")
        _check(out["attempted"] >= 1, f"{tag}: nothing attempted")
        if inject:
            _check(out["failed"] > 0 and not out["correct"], f"{tag}: injected wrong result not counted")
        else:
            _check(out["failed"] == 0 and out["correct"], f"{tag}: {out['failed']} failed: {lines}")
        if trace and workload == "batch-relational":
            m = {k: v["value"] for k, v in out["metrics"].items()}
            layers = sum(m[k] for k in ("plans.build_s", "sources.s", "catalyst.plan_s", "exec.s",
                                        "cache.release_s", "harness.self_s"))
            _check(abs(layers - m["trace.pass_s"]) < 1e-6 * max(1.0, m["trace.pass_s"]),
                   f"{tag}: layer self times sum to {layers}, traced pass is {m['trace.pass_s']}")
        print(f"ok   {tag}: attempted={out['attempted']} failed={out['failed']}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
