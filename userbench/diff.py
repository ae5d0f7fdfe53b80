#!/usr/bin/env python3
"""Per-layer diff of traced benchmark records: parent vs change.

    python3 userbench/diff.py PARENT CHANGE [--all]

PARENT and CHANGE are each a traced record (userbench/.work/records/
<workload>-seed<n>-trace1.json), the summary line a traced run prints, or a
directory of such records; a directory contributes the median of each
metric over its records. The table groups the per-layer metrics into self
time, jobs, task time and bytes, and shows each delta, so a change can show
where a saving landed and that no other layer absorbed it. Metrics equal on
both sides are hidden unless --all is given.
"""
import argparse
import json
import os
import statistics
import sys

# first match wins: counts and task time before the other seconds
GROUPS = [
    ("jobs (count)", lambda n: "jobs" in n or n.endswith("spark.stages")
        or n.endswith("spark.tasks")),
    ("task time (s)", lambda n: n.endswith("task_s") or n.endswith("cpu_s")
        or n.endswith("gc_s")),
    ("bytes (MB)", lambda n: "_mb" in n),
    ("self, wall and job time (s)", lambda n: n.endswith("_s")),
]


def metrics_of(path):
    with open(path) as f:
        text = f.read().strip()
    try:
        rec = json.loads(text)
    except ValueError:
        rec = json.loads(text.splitlines()[-1])
    summary = rec.get("summary", rec)
    return {k: v["value"] for k, v in summary["metrics"].items()}


def load(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.endswith(".json")] if os.path.isdir(path) else [path])
    runs = [metrics_of(f) for f in files]
    if not runs:
        sys.exit(f"no records under {path}")
    names = set().union(*runs)
    return {n: statistics.median(r[n] for r in runs if n in r)
            for n in names}, len(runs)


def group_of(name):
    for title, pred in GROUPS:
        if pred(name):
            return title
    return "other"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()
    p, np_ = load(a.parent)
    c, nc = load(a.change)
    print(f"parent: {a.parent} ({np_} run(s)); change: {a.change} "
          f"({nc} run(s))")
    rows = {}
    for n in sorted(set(p) | set(c)):
        pv, cv = p.get(n), c.get(n)
        if pv is None or cv is None:
            rows.setdefault("other", []).append((n, pv, cv, None, None))
            continue
        if pv == cv and not a.all:
            continue
        d = cv - pv
        rel = d / pv if pv else None
        rows.setdefault(group_of(n), []).append((n, pv, cv, d, rel))
    for title in [g[0] for g in GROUPS] + ["other"]:
        if title not in rows:
            continue
        print(f"\n== {title}")
        print(f"{'metric':<40} {'parent':>12} {'change':>12} {'delta':>12}"
              f" {'delta%':>8}")
        for n, pv, cv, d, rel in sorted(
                rows[title], key=lambda r: -abs(r[3] or 0)):
            fmt = lambda v: "-" if v is None else f"{v:.4g}"
            pct = "-" if rel is None else f"{100 * rel:+.1f}"
            print(f"{n:<40} {fmt(pv):>12} {fmt(cv):>12} {fmt(d):>12}"
                  f" {pct:>8}")


if __name__ == "__main__":
    main()
