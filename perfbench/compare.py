"""Compare two saved benchmark results, metric by metric.

    python3 perfbench/compare.py A.json B.json

Results are the files ``run.py`` saves under ``.perfbench/results/``.
The comparison is refused (exit 2) when the two config stamps differ in
anything that changes what a number means: core count, Spark master,
shuffle partitions, AQE, driver memory, PySpark or Python version,
workload, input size or run length. Source and seed may differ.

Comparing an untraced result (A) with the traced result of the same
seed (B) gives the tracing overhead of each end-to-end metric: B
reports it as ``traced.<metric>``, and the difference is printed as
traced minus untraced.
"""

from __future__ import annotations

import json
import sys

CONFIG_KEYS = ["nproc", "SPARK_GRAFT_CPUS", "master", "shuffle_partitions", "aqe",
               "driver_memory", "pyspark", "python", "workload", "size", "seconds", "ticks"]


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    sa, sb = a["detail"]["stamp"], b["detail"]["stamp"]
    diff = [k for k in CONFIG_KEYS if sa.get(k) != sb.get(k)]
    if diff:
        for k in diff:
            print(f"stamps differ on {k}: {sa.get(k)!r} vs {sb.get(k)!r}", file=sys.stderr)
        return 2
    ma, mb = a["metrics"], b["metrics"]
    print(f"{'metric':40s} {'A':>14s} {'B':>14s} {'B-A':>14s} unit")
    for name, va in ma.items():
        vb = mb.get(name) or mb.get(f"traced.{name}")
        if vb is None:
            continue
        d = vb["value"] - va["value"]
        print(f"{name:40s} {va['value']:14.4f} {vb['value']:14.4f} {d:14.4f} {va['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
