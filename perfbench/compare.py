#!/usr/bin/env python3
"""Compare two result sets of the benchmark, one row per workload x metric.

    python3 perfbench/compare.py run --parent DIR --change DIR \\
        --workload query_mix [--workload ...] [--pairs 10] [--trace 0] --out DIR
    python3 perfbench/compare.py diff PARENT.jsonl CHANGE.jsonl

`run` runs the benchmark from two checkouts in pairs, seeds 1..pairs,
alternating which side runs first, and writes parent.jsonl and change.jsonl
(one line per run: workload, seed, trace and the benchmark's result object,
or "timeout": true for a run that overran its time limit) before printing
the diff; the two files are rewritten, never appended to. `diff` compares two
such files.

Each row gives both sides' median and quartiles, the change's pair-win
fraction (ties count for neither side) and a verdict:

* improved   the change wins at least 9/10 of the pairs and the medians
             differ by more than the parent's own interquartile spread;
* unresolved the spread of either side is wider than the metric's bound,
             unless every run of the change reads better than every run of
             the parent;
* regressed  the change's median is worse than the parent's by more than
             the bound;
* unchanged  otherwise.

Per-layer metrics have no bound: they get improved, regressed (the mirror of
improved) or unchanged.

A workload on which either side timed out gets a `timeouts` row: regressed
when only the change timed out, improved when only the parent did, and
unresolved when both did. A run that fails an output check stops `run`.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import TIMEOUT_EXIT  # noqa: E402
from stats import quartiles  # noqa: E402

WIN_SHARE = 0.9


def verdict(parent, change, better, bound=None):
    """parent, change: {seed: value}. Returns a row dict."""
    seeds = sorted(set(parent) & set(change))
    a = [parent[s] for s in sorted(parent)]
    b = [change[s] for s in sorted(change)]
    sign = 1 if better == "lower" else -1
    qa, qb = quartiles(a), quartiles(b)
    wins = sum(1 for s in seeds if sign * (change[s] - parent[s]) < 0)
    losses = sum(1 for s in seeds if sign * (change[s] - parent[s]) > 0)
    base = abs(qa[1]) or 1.0
    worse = sign * (qb[1] - qa[1]) / base
    parent_iqr = qa[2] - qa[0]
    spread = max(parent_iqr / base, (qb[2] - qb[0]) / (abs(qb[1]) or 1.0))
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    n = len(seeds)
    if n and wins >= WIN_SHARE * n and -worse * base > parent_iqr:
        v = "improved"
    elif bound is None:
        v = ("regressed" if n and losses >= WIN_SHARE * n and
             worse * base > parent_iqr else "unchanged")
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regressed"
    else:
        v = "unchanged"
    return {"parent": qa, "change": qb,
            "change_pct": 100 * (qb[1] - qa[1]) / base,
            "wins": wins, "pairs": n, "verdict": v}


def load(path):
    """{(workload, trace): {seed: metrics or None for a timed-out run}}"""
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], r["trace"]), {})[
                    r["seed"]] = (None if r.get("timeout") else
                                  r["result"]["metrics"])
    return runs


def timeout_row(parent, change):
    """parent, change: {seed: metrics or None}. A row when any run timed
    out, else None."""
    tp = sum(1 for m in parent.values() if m is None)
    tc = sum(1 for m in change.values() if m is None)
    if not tp and not tc:
        return None
    v = ("unresolved" if tp and tc else "regressed" if tc else "improved")
    return {"parent": (tp, tp, tp), "change": (tc, tc, tc),
            "change_pct": 100 * (tc - tp) / max(len(change), 1),
            "wins": 0, "pairs": 0, "verdict": v}


def diff(parent_path, change_path, spec):
    parent, change = load(parent_path), load(change_path)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    rows = []
    for key in sorted(set(parent) & set(change)):
        t = timeout_row(parent[key], change[key])
        if t:
            rows.append((key[0], "timeouts", "count", t))
        p = {s: m for s, m in parent[key].items() if m is not None}
        c = {s: m for s, m in change[key].items() if m is not None}
        if not p or not c:
            continue
        names = sorted(set.intersection(*(set(m) for m in
                                          list(p.values()) +
                                          list(c.values()))))
        for name in names:
            m = metrics[name]
            row = verdict({s: v[name]["value"] for s, v in p.items()},
                          {s: v[name]["value"] for s, v in c.items()},
                          m["better"], m.get("bound"))
            rows.append((key[0], name, m["unit"], row))
    return rows


def print_rows(rows):
    print(f"{'workload':16s} {'metric':28s} {'parent med [q1,q3]':>30s} "
          f"{'change med [q1,q3]':>30s} {'change':>8s} {'wins':>6s} verdict")
    for w, name, unit, r in rows:
        def fmt(q):
            return f"{q[1]:.4g} [{q[0]:.4g},{q[2]:.4g}] {unit}"
        print(f"{w:16s} {name:28s} {fmt(r['parent']):>30s} "
              f"{fmt(r['change']):>30s} {r['change_pct']:+7.1f}% "
              f"{r['wins']:>2d}/{r['pairs']:<3d} {r['verdict']}")


def run_pairs(args):
    os.makedirs(args.out, exist_ok=True)
    sides = {"parent": args.parent, "change": args.change}
    files = {k: open(os.path.join(args.out, f"{k}.jsonl"), "w")
             for k in sides}
    for w in args.workload:
        for seed in range(1, args.pairs + 1):
            order = ["parent", "change"] if seed % 2 else ["change",
                                                          "parent"]
            for side in order:
                p = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", w,
                     "--seed", str(seed), "--seconds", str(args.seconds),
                     "--trace", str(args.trace)],
                    cwd=sides[side], capture_output=True, text=True)
                rec = {"workload": w, "seed": seed, "trace": args.trace}
                lines = p.stdout.strip().splitlines()
                if p.returncode == TIMEOUT_EXIT:
                    rec["timeout"] = True
                elif p.returncode != 0 or not lines:
                    sys.exit(f"{side} {w} seed {seed} failed:\n"
                             f"{p.stdout[-2000:]}{p.stderr[-2000:]}")
                else:
                    rec["result"] = json.loads(lines[-1])
                files[side].write(json.dumps(rec) + "\n")
                files[side].flush()
    for f in files.values():
        f.close()
    return [os.path.join(args.out, f"{k}.jsonl") for k in sides]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", action="append", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    d = sub.add_parser("diff")
    d.add_argument("parent")
    d.add_argument("change")
    args = ap.parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.cmd == "run":
        args.seconds = spec["run_seconds"]
        paths = run_pairs(args)
    else:
        paths = [args.parent, args.change]
    rows = diff(*paths, spec)
    print_rows(rows)
    e2e = {m["name"] for m in spec["end_to_end"]}
    return 1 if any(r["verdict"] == "regressed" and
                    (name in e2e or name == "timeouts")
                    for _, name, _, r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
