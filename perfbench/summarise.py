#!/usr/bin/env python3
"""Summarise a spans file written by a traced run (``run.py --trace 1``).

    python3 perfbench/summarise.py .perfbench/spans/<workload>-seed<n>.jsonl

Prints, per span name, the calls and the total and self time per
operation, and the tracing overhead the run measured. A span's self time
is its duration minus the part of its interval its child spans cover.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def layer_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: ``calls``, ``total_s`` and ``self_s`` summed over
    the spans (children of one parent never overlap: one caller)."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        dur = s["end"] - s["start"]
        rec = out[s["name"]]
        rec["calls"] += 1
        rec["total_s"] += dur
        rec["self_s"] += dur - covered[s["id"]]
    return out


def read(path: str) -> tuple[dict, list[dict]]:
    meta, spans = {}, []
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if "meta" in rec:
                meta = rec["meta"]
            else:
                spans.append(rec)
    return meta, spans


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    meta, spans = read(argv[0])
    ops = len({s["op"] for s in spans})
    print(f"workload {meta.get('workload')}  seed {meta.get('seed')}  "
          f"traced operations {ops}")
    print(f"{'span':<24}{'calls/op':>10}{'total s/op':>12}{'self s/op':>12}")
    times = layer_times(spans)
    for name in sorted(times, key=lambda n: -times[n]["self_s"]):
        t = times[name]
        print(f"{name:<24}{t['calls'] / ops:>10.2f}{t['total_s'] / ops:>12.4f}"
              f"{t['self_s'] / ops:>12.4f}")
    opm, topm = meta.get("ops_per_min"), meta.get("traced_ops_per_min")
    if opm and topm:
        print(f"ops/min untraced {opm:.3f}  traced {topm:.3f}  "
              f"tracing overhead {1 - topm / opm:+.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
