#!/usr/bin/env python3
"""Summarize a traced benchmark run.

Prints the self time of each layer from the run's spans (a span's duration
minus the part of it that its child spans cover), and the tracing
overhead: each end-to-end figure of the traced run against the latest
untraced run of the same workload.

    python3 perfbench/summarize.py <workload>

reads the files run.py keeps under <build dir>/last/.
"""
import json
import sys
from collections import defaultdict
from pathlib import Path


def _covered(interval, children):
    """Length of the union of `children` clipped to `interval`."""
    lo, hi = interval
    parts = sorted((max(a, lo), min(b, hi)) for a, b in children
                   if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in parts:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{'self.<layer>_s': seconds} summed over the layer's spans."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_us"], s["end_us"]))
    out = defaultdict(float)
    for s in spans:
        iv = (s["start_us"], s["end_us"])
        own = (iv[1] - iv[0]) - _covered(iv, kids.get(s["id"], []))
        out[f"self.{s['layer']}_s"] += max(own, 0) / 1e6
    return dict(out)


def main(workload):
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import build
    last = build.build_dir() / "last"
    spans = json.loads((last / f"{workload}-spans.json").read_text())
    print(f"self time per layer ({workload}, {len(spans)} spans):")
    for k, v in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
        print(f"  {k:<36} {v:10.3f} s")
    traced = json.loads((last / f"{workload}-t1.json").read_text())
    print(f"  recorder time: {traced['per_layer']['trace.overhead_pct']:.3f}"
          " % of the measured window")
    plain = last / f"{workload}-t0.json"
    if not plain.exists():
        print("no untraced run of this workload to compare against")
        return
    untraced = json.loads(plain.read_text())
    print("tracing overhead (traced vs untraced run):")
    for k, v in sorted(traced["end_to_end"].items()):
        base = untraced["end_to_end"].get(k)
        if base:
            print(f"  {k:<24} {base:12.4f} -> {v:12.4f} "
                  f"({100.0 * (v - base) / base:+.1f} %)")


if __name__ == "__main__":
    main(sys.argv[1])
