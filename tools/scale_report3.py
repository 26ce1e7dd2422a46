#!/usr/bin/env python3
"""Render SCALE.md's per-query scale table from Bench or SmokeGate JSON lines.

Usage: python3 tools/scale_report3.py run.json[,run_b.json] ...

One argument per scale factor, smallest first (two or more). Each is a
comma-separated list of logs or JSON files for that scale; every line
that holds a graft.Bench `{"metric": ...}` object or a SmokeGate
`{"gate": ...}` object contributes its "queries" map, and per-query
minima are taken across the list. Scales are labelled sf0.1, sf1,
sf10, ... by position. Prints a
markdown table: query | <scale> s ... | each ratio between neighbouring
scales, sorted by the last ratio descending, with totals over the
queries every scale has.
"""
import json, sys


def load_many(paths):
    out = {}
    for p in paths.split(","):
        # parse line-by-line: a greedy cross-line regex would swallow
        # trailing text after a JSON object and break json.loads; a
        # malformed line skips quietly instead of killing the report
        for line in open(p):
            start = line.find("{")
            obj = line[start:].strip() if start >= 0 else ""
            if not obj.startswith(('{"gate"', '{"metric"')):
                continue
            try:
                q = json.loads(obj)["queries"]
            except (json.JSONDecodeError, KeyError):
                continue
            for k, v in q.items():
                out[k] = min(out.get(k, 1e18), v)
    return out


def ratio(a, b):
    return b / a if a > 0 else 0


args = sys.argv[1:]
if len(args) < 2:
    sys.exit(__doc__)
labels = [f"sf{10 ** i / 10:g}" for i in range(len(args))]
scales = [load_many(arg) for arg in args]

common = sorted(set.intersection(*(set(s) for s in scales)))
rows = [(q, [s[q] for s in scales]) for q in common]
rows.sort(key=lambda r: -ratio(r[1][-2], r[1][-1]))
pairs = list(zip(labels, labels[1:]))
print("| query | " + " | ".join(f"{l} s" for l in labels) + " | " +
      " | ".join(f"{b}/{a}" for a, b in pairs) + " |")
print("|---" * (1 + len(labels) + len(pairs)) + "|")
for q, ts in rows:
    print(f"| {q} | " + " | ".join(f"{t:.2f}" for t in ts) + " | " +
          " | ".join(f"{ratio(a, b):.1f}x" for a, b in zip(ts, ts[1:])) + " |")
tot = [sum(r[1][i] for r in rows) for i in range(len(scales))]
print(f"| **total ({len(rows)} queries)** | " +
      " | ".join(f"**{t:.2f}**" for t in tot) + " | " +
      " | ".join(f"**{ratio(a, b):.1f}x**" for a, b in zip(tot, tot[1:])) + " |")
