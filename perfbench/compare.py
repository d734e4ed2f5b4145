#!/usr/bin/env python3
"""Parent-versus-change comparison over alternating-order pairs.

    python3 perfbench/compare.py run --parent <checkout> --change <checkout> \
        --out pairs.jsonl [--pairs 10] [--workloads a,b] [--seed0 5000]
    python3 perfbench/compare.py report pairs.jsonl

`run` executes the benchmark in both checkouts, once per side per pair,
alternating which side goes first, on the same seed within a pair (seeds
seed0, seed0+1, ...), and appends every result to the JSONL file. Both
sides must carry the same benchmark directory. `report` prints one row per
workload and metric: each side's median and quartiles, the pairs the
change won, and a verdict:

- gain: the change won at least 9/10 of the pairs (ties count for
  neither) and the medians differ by more than the parent's inter-quartile
  range; "gain void: more failures" instead when the change side of the
  workload has more failed ops than the parent side;
- unresolved: the parent's spread is wider than the metric's bound and not
  every change run beats every parent run;
- regression: the change's median is worse than the parent's by more than
  the bound;
- within bound: none of the above.

Per-layer metrics have no bound, so they are only ever "gain" or "-".
Each workload's failed ops are also printed per side.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys


def _bench(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(checkout, paths):
    h = hashlib.sha1()
    for p in paths:
        for d, dirs, files in sorted(os.walk(os.path.join(checkout, p))):
            dirs[:] = sorted(x for x in dirs if not x.startswith("."))
            for name in sorted(files):
                if "target" in d.split(os.sep):
                    continue
                f = os.path.join(d, name)
                h.update(os.path.relpath(f, checkout).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run(a):
    bench = _bench(a.change)
    if _digest(a.parent, bench["paths"]) != _digest(a.change, bench["paths"]):
        sys.exit("the two checkouts carry different benchmark code; copy "
                 "the change's benchmark directories into the parent first")
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            for w in workloads:
                for order, (side, checkout) in enumerate(sides):
                    cmd = bench["command"] + [
                        "--workload", w, "--seed", str(a.seed0 + i),
                        "--seconds", str(bench["run_seconds"]),
                        "--trace", str(a.trace)]
                    p = subprocess.run(cmd, cwd=checkout, text=True,
                                       stdout=subprocess.PIPE)
                    lines = p.stdout.strip().splitlines()
                    if p.returncode != 0 or not lines:
                        sys.exit(f"{side} {w} pair {i} failed "
                                 f"(exit {p.returncode})")
                    res = json.loads(lines[-1])
                    out.write(json.dumps(dict(
                        pair=i, side=side, order=order, workload=w,
                        seed=a.seed0 + i, trace=a.trace, **res)) + "\n")
                    out.flush()


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, better, bound, more_failures=False):
    """Verdict for one metric of one workload (see the module doc);
    more_failures: the change side failed more ops than the parent."""
    lower = better == "lower"
    wins = sum(1 for p, c in zip(parent, change)
               if (c < p if lower else c > p))
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gain = (pm - cm) if lower else (cm - pm)
    if wins >= 0.9 * len(parent) and gain > (p3 - p1):
        return ("gain void: more failures" if more_failures else "gain"), wins
    if bound is None:
        return "-", wins
    all_better = (max(change) < min(parent) if lower
                  else min(change) > max(parent))
    if pm and (p3 - p1) / abs(pm) > bound and not all_better:
        return "unresolved", wins
    if pm and -gain / abs(pm) > bound:
        return "regression", wins
    return "within bound", wins


def report(path, bench_json):
    with open(bench_json) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    rows = [json.loads(x) for x in open(path) if x.strip()]
    by = {}
    for r in rows:
        by.setdefault((r["workload"], r["trace"]), {}) \
            .setdefault(r["pair"], {})[r["side"]] = r
    print(f"{'workload':18s} {'metric':26s} {'parent med [q1, q3]':>30s} "
          f"{'change med [q1, q3]':>30s} {'wins':>6s}  verdict")
    for (w, trace), pairs in sorted(by.items()):
        full = [p for p in pairs.values() if {"parent", "change"} <= set(p)]
        if not full:
            continue
        failed = {s: sum(p[s]["failed"] for p in full)
                  for s in ("parent", "change")}
        worse = failed["change"] > failed["parent"]
        for name in full[0]["parent"]["metrics"]:
            par = [p["parent"]["metrics"][name]["value"] for p in full]
            chg = [p["change"]["metrics"][name]["value"] for p in full]
            m = spec.get(name, {"better": "lower"})
            v, wins = verdict(par, chg, m["better"], m.get("bound"), worse)
            fmt = "{:.4g} [{:.4g}, {:.4g}]"
            q = quartiles(par)
            r = quartiles(chg)
            print(f"{w:18s} {name:26s} {fmt.format(q[1], q[0], q[2]):>30s} "
                  f"{fmt.format(r[1], r[0], r[2]):>30s} "
                  f"{wins:>3d}/{len(full):<2d}  {v}")
        print(f"{w:18s} {'(failed ops)':26s} {failed['parent']:>30d} "
              f"{failed['change']:>30d}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--workloads")
    r.add_argument("--seed0", type=int, default=5000)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p = sub.add_parser("report")
    p.add_argument("pairs")
    p.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCHMARK.json"))
    a = ap.parse_args()
    if a.cmd == "run":
        run(a)
    else:
        report(a.pairs, a.benchmark)


if __name__ == "__main__":
    main()
