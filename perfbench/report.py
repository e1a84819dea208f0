"""Print the per-layer report of a traced run.

    python3 perfbench/report.py [trace.json]

Without an argument, the newest ``.perfbench_out/trace-*.json``.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import OUT_DIR, WORKLOADS  # noqa: E402
from spans import self_times  # noqa: E402


def print_report(path: str) -> None:
    with open(path) as f:
        trace = json.load(f)
    metrics = trace["metrics"]
    print(f"per-layer report: {os.path.relpath(path)} "
          f"(seed {trace['seed']}, settings {trace['settings']})")
    for wl in WORKLOADS:
        prefix = f"trace.{wl}."
        rows = {k[len(prefix):]: v for k, v in metrics.items() if k.startswith(prefix)}
        if not rows:
            continue
        print(f"  {wl}: self time per job")
        for name in sorted(rows, key=lambda n: (n in ("unattributed_s", "overhead_s"), n)):
            label = name[:-len(".self_s")] if name.endswith(".self_s") else name[:-2]
            print(f"    {label:<32} {rows[name]:10.4f} s")
    own = self_times(trace["spans"])
    totals: dict = {}
    for r in trace["spans"]:
        t = totals.setdefault(r["layer"], [0, 0.0])
        t[0] += 1
        t[1] += own[r["id"]]
    print("  all spans: layer self time (traced jobs, tail batches and probes)")
    for layer, (n, s) in sorted(totals.items(), key=lambda kv: -kv[1][1]):
        label = "unattributed (job spans)" if layer == "job" else layer
        print(f"    {label:<32} {s:10.4f} s  ({n} spans)")
    print("  layer metrics")
    for k in sorted(metrics):
        if not k.startswith("trace."):
            print(f"    {k:<52} {metrics[k]:.6g}")


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv:
        path = argv[0]
    else:
        found = sorted(glob.glob(os.path.join(OUT_DIR, "trace-*.json")), key=os.path.getmtime)
        if not found:
            print("no trace found; run perfbench/run.py with --trace 1 first", file=sys.stderr)
            return 1
        path = found[-1]
    print_report(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
