#!/usr/bin/env python3
"""Steadiness and parent-vs-change comparison over repeated benchmark runs.

Steadiness: two sets of runs of one checkout, per workload, each run on
its own seed; every end-to-end metric's median and quartiles per set, its
spread (interquartile distance over median), and whether the sets agree
within the bound BENCHMARK.json fixes: both spreads within it and the
medians apart by at most it, in either direction:

    python3 perfbench/compare.py steady [--runs 10] [--workloads explore,curate]

Claim: alternating parent/change pairs on the same seed (at least ten),
the change must win at least nine tenths of the pairs on the named metric
its median must beat the parent's by more than the parent's own
interquartile distance, and it may fail no more ops than the parent; the
same must hold on the held-out seed, which no other mode runs:

    python3 perfbench/compare.py pair --parent DIR --change DIR \\
        --workload curate --metric op_p50_ms [--pairs 10]

Both checkouts must hold identical perfbench/ and BENCHMARK.json.
"""
import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HOLDOUT_SEED = 9001


def conf(root):
    return json.loads((Path(root) / "BENCHMARK.json").read_text())


def run_once(root, workload, seed, seconds):
    """One untraced run: its end-to-end metrics and its failed-op count."""
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=root, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"run failed in {root} ({workload}, seed {seed}):\n{out.stderr[-2000:]}")
    report, line = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    steal = report["report"]["provenance"].get("cpu_steal_share")
    print(f"{workload} seed {seed} ({root}, CPU steal {steal}): {json.dumps(line)}",
          file=sys.stderr, flush=True)
    if not line["correct"]:
        print(f"warning: {workload} seed {seed} reported correct=false "
              f"({line['failed']}/{line['attempted']} failed)", file=sys.stderr)
    return {k: v["value"] for k, v in line["metrics"].items()}, line["failed"]


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def agreement(a, z, bound):
    """Two sets of one metric agree when each set's spread is within the
    bound and their medians differ by at most the bound, in either
    direction, as a share of the first set's median."""
    shift = (z["median"] - a["median"]) / a["median"]
    ok = abs(shift) <= bound and a["spread"] <= bound and z["spread"] <= bound
    return shift, ok


def steady(args):
    c = conf(ROOT)
    bounds = {m["name"]: m for m in c["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in c["workloads"]]
    report, ok = {}, True
    for w in workloads:
        sets = []
        for s in range(2):
            runs = [run_once(ROOT, w, 1 + i, c["run_seconds"])[0] for i in range(args.runs)]
            sets.append({m: summary([r[m] for r in runs]) for m in bounds})
        rows = {}
        for m, b in bounds.items():
            a, z = sets[0][m], sets[1][m]
            shift, within = agreement(a, z, b["bound"])
            ok &= within
            rows[m] = {"first": a, "second": z, "median_shift": shift, "bound": b["bound"],
                       "agree": within}
        report[w] = rows
    print(json.dumps(report, indent=1))
    return 0 if ok else 1


def tree_hash(root):
    h = hashlib.sha256()
    for f in sorted((Path(root) / "perfbench").rglob("*")):
        if f.is_file() and "__pycache__" not in f.parts:
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    h.update((Path(root) / "BENCHMARK.json").read_bytes())
    return h.hexdigest()


def pair(args):
    if tree_hash(args.parent) != tree_hash(args.change):
        raise SystemExit("the two checkouts run different benchmark code")
    c = conf(args.change)
    better = next(m["better"] for m in c["end_to_end"] if m["name"] == args.metric)

    def pairs(seeds):
        got = []
        for i, seed in enumerate(seeds):
            order = [("parent", args.parent), ("change", args.change)]
            if i % 2:
                order.reverse()
            vals = {side: run_once(root, args.workload, seed, c["run_seconds"])
                    for side, root in order}
            got.append((seed, vals["parent"][0][args.metric], vals["change"][0][args.metric],
                        vals["parent"][1], vals["change"][1]))
        return got

    def verdict(got):
        wins = sum(1 for _, p, ch, _, _ in got if (ch < p if better == "lower" else ch > p))
        par, cha = summary([g[1] for g in got]), summary([g[2] for g in got])
        gap = (par["median"] - cha["median"]) if better == "lower" else (cha["median"] - par["median"])
        failed = {"parent": sum(g[3] for g in got), "change": sum(g[4] for g in got)}
        return {"pairs": len(got), "change_wins": wins, "parent": par, "change": cha,
                "gain": gap, "parent_iqr": par["q3"] - par["q1"], "failed_ops": failed,
                "claim_holds": (wins >= 0.9 * len(got) and gap > par["q3"] - par["q1"]
                                and failed["change"] <= failed["parent"])}

    main = verdict(pairs(range(1, args.pairs + 1)))
    held = verdict(pairs([HOLDOUT_SEED] * 3))
    held["claim_holds"] = (held["change_wins"] == held["pairs"]
                           and held["failed_ops"]["change"] <= held["failed_ops"]["parent"])
    print(json.dumps({"workload": args.workload, "metric": args.metric, "seeds": main,
                      "held_out_seed": dict(held, seed=HOLDOUT_SEED)}, indent=1))
    return 0 if main["claim_holds"] and held["claim_holds"] else 1


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("steady")
    s.add_argument("--runs", type=int, default=10)
    s.add_argument("--workloads")
    p = sub.add_parser("pair")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--metric", required=True)
    p.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    sys.exit(steady(a) if a.mode == "steady" else pair(a))


if __name__ == "__main__":
    main()
