#!/usr/bin/env python3
"""Summarise a spans file written by a traced run:

    python3 perfbench/spans.py perfbench/.out/spans-search_export-seed1.json

Prints, per span name, the count, total time and self time. A span's self
time is its duration minus the part of it that its child spans cover.
"""
import json
import sys
from collections import defaultdict


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time in microseconds}."""
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            p = by_id[s["parent"]]
            children[s["parent"]].append((max(s["start_us"], p["start_us"]),
                                          min(s["end_us"], p["end_us"])))
    return {i: (s["end_us"] - s["start_us"]) - covered([c for c in children[i] if c[1] > c[0]])
            for i, s in by_id.items()}


def main(path):
    with open(path) as f:
        spans = json.load(f)
    own = self_times(spans)
    rows = defaultdict(lambda: [0, 0, 0])
    for s in spans:
        # Jobs are named by id; group them as one kind of span.
        name = "spark.job" if s["name"].startswith("spark.job.") else s["name"]
        r = rows[name]
        r[0] += 1
        r[1] += s["end_us"] - s["start_us"]
        r[2] += own[s["id"]]
    print(f"{'span':24s} {'count':>6s} {'total_s':>10s} {'self_s':>10s}")
    for name, (n, total, self_us) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"{name:24s} {n:6d} {total / 1e6:10.3f} {self_us / 1e6:10.3f}")


if __name__ == "__main__":
    main(sys.argv[1])
