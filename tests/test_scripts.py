"""Scripts stay runnable and citable: the memcpy probe runs without
Spark, and every ``scripts/<name>.py`` and every ``bench.py --<flag>``
a source file, test, script, the README or the verify skill cites
exists."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ruler_probe_no_spark_prints_bandwidths():
    out = subprocess.run(
        [sys.executable, os.path.join("scripts", "ruler_probe.py"), "--no-spark"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert rec["warm_gbps"] > 0 and rec["cold_gbps"] > 0
    assert "ruler" not in rec  # --no-spark never builds a session


def _cited_files():
    for top in ("flink_start_spark", "tests", "scripts"):
        for root, dirs, files in os.walk(os.path.join(REPO, top)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                yield os.path.join(root, f)
    yield os.path.join(REPO, "README.md")
    yield os.path.join(REPO, ".claude", "skills", "verify", "SKILL.md")


def test_cited_scripts_exist():
    cite = re.compile(r"scripts/([A-Za-z0-9_]+)\.py")
    missing = []
    for path in _cited_files():
        with open(path, encoding="utf-8", errors="replace") as f:
            text = f.read()
        for name in set(cite.findall(text)):
            if not os.path.exists(os.path.join(REPO, "scripts", f"{name}.py")):
                missing.append(f"{os.path.relpath(path, REPO)}: scripts/{name}.py")
    assert not missing, "cited scripts that do not exist:\n" + "\n".join(missing)


def test_cited_bench_flags_exist():
    sys.path.insert(0, REPO)
    import bench

    defined = {o for a in bench._parser()._actions for o in a.option_strings}
    # `bench.py` then its arguments on the same line: every --flag counts
    cite = re.compile(r"bench\.py((?:[ \t]+(?:--[\w-]+|[^\s`'\"-][^\s`'\"]*))*)")
    missing = []
    for path in _cited_files():
        with open(path, encoding="utf-8", errors="replace") as f:
            text = f.read()
        for args in cite.findall(text):
            for flag in re.findall(r"--[\w-]+", args):
                if flag not in defined:
                    missing.append(f"{os.path.relpath(path, REPO)}: bench.py {flag}")
    assert not missing, "cited bench.py flags it does not define:\n" + "\n".join(
        sorted(set(missing))
    )
