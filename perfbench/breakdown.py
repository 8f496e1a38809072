#!/usr/bin/env python3
"""Per-workload layer breakdown from the latest traced result files.

    python3 perfbench/breakdown.py

Reads the newest ``.perfbench/results/<workload>-*-trace1-*.json`` of
every workload and prints a markdown table: self time per pass by layer,
the dominant layer, the traced pass time, span coverage and tracing
overhead, then the self time and dominant layer of each entry.
"""

from __future__ import annotations

import glob
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = ("entry", "materialize", "catalog", "plan", "exec", "ddl", "stream", "harness")


def latest(workload: str) -> dict | None:
    files = glob.glob(os.path.join(ROOT, ".perfbench", "results", f"{workload}-*-trace1-*.json"))
    if not files:
        return None
    with open(max(files, key=os.path.getmtime)) as fh:
        return json.load(fh)


def main() -> None:
    from perfbench.workloads import WORKLOADS

    head = ["workload", *(f"{layer} s" for layer in LAYERS), "dominant", "traced pass s", "coverage", "overhead"]
    print("| " + " | ".join(head) + " |")
    print("|" + "---|" * len(head))
    for name in WORKLOADS:
        res = latest(name)
        if res is None:
            continue
        b, m = res["breakdown"], res["per_layer"]
        traced = sorted(p["s"] for p in res["passes"] if p["traced"])
        cells = [name, *(f"{b['self_s'].get(layer, 0.0):.3f}" for layer in LAYERS), f"**{b['dominant']}**",
                 f"{traced[len(traced) // 2]:.2f}", f"{m['trace.coverage']:.3f}", f"{m['trace.overhead_frac']:+.3f}"]
        print("| " + " | ".join(cells) + " |")
        for entry, e in b["entries"].items():
            cells = [f"- {entry}", *(f"{e['self_s'].get(layer, 0.0):.3f}" for layer in LAYERS), e["dominant"], "", "", ""]
            print("| " + " | ".join(cells) + " |")


if __name__ == "__main__":
    import sys

    sys.path.insert(0, ROOT)
    main()
