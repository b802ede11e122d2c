"""One-shot host-window health probe: prints bench.py's calibration
ruler (seeded Spark job sec + warm/cold memcpy GB/s) as one JSON line.

Usage: python scripts/ruler_probe.py [--no-spark]

The --no-spark form probes only the memcpy bandwidths (seconds, no JVM)
— enough to detect the hypervisor-overcommit signature (cold-fault
GB/s << 1) before deciding whether a bench window is worth opening.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import _mem_probe, _ruler

    out = _mem_probe()
    out["load_avg_1m"] = round(os.getloadavg()[0], 2)
    if "--no-spark" not in sys.argv:
        from flink_start_spark.session import get_spark

        spark = get_spark("ruler_probe")
        _ruler(spark)  # untimed codegen/JIT warm-up
        out["ruler"] = _ruler(spark)
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
