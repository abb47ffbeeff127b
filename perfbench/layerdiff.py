#!/usr/bin/env python3
"""Compare two traced captures of perfbench/run.py, span by span.

    python3 perfbench/layerdiff.py <base.json> <new.json>

A capture holds one record per traced call. Calls are matched by their
span path (the names from the root span down, plus the tag: the query
class or table) and averaged per path; for every path and field the tool
prints the base value, the new value and the delta with its base. The
per-layer metrics of the two runs follow, compared the same way. Rows are
ordered by the absolute delta of wall time; the TOP largest are printed.
"""
import argparse
import json
from collections import defaultdict

FIELDS = ["wall_ms", "driver_ms", "jobs", "tasks", "task_cpu_ms",
          "shuffle_write_bytes"]
TOP = 40


def per_path(capture):
    spans = {s["id"]: s for s in capture["spans"]}

    def path(s):
        names = []
        while s is not None:
            names.append(s["name"] + (f"[{s['tag']}]" if s["tag"] else ""))
            s = spans.get(s["parent"])
        return "/".join(reversed(names))
    groups = defaultdict(list)
    for s in capture["spans"]:
        groups[path(s)].append(s)
    return {p: ({f: sum(s.get(f, 0.0) for s in ss) / len(ss) for f in ss[0]
                 if isinstance(ss[0][f], (int, float)) and f not in ("id", "parent")},
                len(ss))
            for p, ss in groups.items()}


def delta(b, n):
    d = n - b
    pct = f"{100.0 * d / b:+.1f}%" if b else ("+inf%" if d else "0%")
    return d, pct


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args()
    base, new = json.load(open(a.base)), json.load(open(a.new))
    if base.get("workload") != new.get("workload"):
        print(f"warning: workloads differ ({base.get('workload')} vs {new.get('workload')})")
    pb, pn = per_path(base), per_path(new)
    rows = []
    for p in sorted(set(pb) | set(pn)):
        (vb, cb), (vn, cn) = pb.get(p, ({}, 0)), pn.get(p, ({}, 0))
        cells = []
        for f in FIELDS:
            b, n = vb.get(f, 0.0), vn.get(f, 0.0)
            cells.append((f, b, n) + delta(b, n))
        rows.append((abs(cells[0][3]), p, cb, cn, cells))
    rows.sort(key=lambda r: -r[0])
    print(f"spans: {a.base} (base) vs {a.new}; mean per call; calls base/new")
    for _, p, cb, cn, cells in rows[:TOP]:
        print(f"{p}  [{cb}/{cn}]")
        for f, b, n, d, pct in cells:
            print(f"    {f:22s} base {b:14.2f}  new {n:14.2f}  delta {d:+14.2f} ({pct})")
    lb, ln = base.get("layers", {}), new.get("layers", {})
    print("\nper-layer metrics (base, new, delta)")
    for k in sorted(set(lb) | set(ln), key=lambda k: -abs(ln.get(k, 0.0) - lb.get(k, 0.0))):
        b, n = lb.get(k, 0.0), ln.get(k, 0.0)
        d, pct = delta(b, n)
        print(f"  {k:48s} {b:14.2f} {n:14.2f} {d:+14.2f} ({pct})")
    for side, cap in (("base", base), ("new", new)):
        h = cap.get("host", {})
        print(f"\n{side} host: nproc {h.get('nproc')}, cores {h.get('cores')}, "
              f"loadavg {h.get('loadavg_before')} -> {h.get('loadavg_after')}, "
              f"task cpu {h.get('task_cpu_s')} s, steal {h.get('cpu_steal_s')} s")


if __name__ == "__main__":
    main()
