#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 10 \
        --trace 0

Builds the harness together with the engine's sources (once per source
state), generates the seeded sf0.1 fixture tables, runs the workload's
seeded plan (whole cycles, as many as take about --seconds) in one JVM
with Spark local[N] (N = available cores) and one closed-loop client,
checks every result the plan marks against DuckDB over
the same files, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones. With --trace 1 the plan runs twice, in two JVMs:
untraced, then with every op traced; the metrics are the per-layer ones
of the traced run, and the tracing overhead is taken op by op between the
two. A readable summary goes to stderr. See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb import check, datagen, jvm, metrics, stats  # noqa: E402
from pb.canon import decode_results  # noqa: E402
from pb.workloads import PLANS, load  # noqa: E402

# The timed loop stops early, at a cycle end, once past this many times
# --seconds; the plan sizes its work to take about --seconds.
CAP = 4
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def check_run(workload, meta, plan, run, results, data_dir):
    """(ids of failed timed ops, notes, rows changed per DML op id)."""
    con = check.connect(data_dir, os.path.join(os.path.dirname(data_dir),
                                               "tmp"))
    failed = {o["id"] for o in run["ops"] if not o["ok"]}
    notes, bad_keys, changed = [], set(), {}
    for o in run["ops"]:
        if not o["ok"]:
            notes.append(f"op {o['id']} ({meta[o['id']]['key']}) threw: "
                         f"{o.get('error')}")

    def compare(i, sql):
        cols, rows = results[i]
        why = check.mismatch(cols, rows, *check.duck_result(con, sql))
        if why:
            notes.append(f"{meta[i]['key']}: mismatch: {why}"[:600])
        return why is None

    if workload == "adhoc_sql":
        for i in results:
            if not compare(i, meta[i]["text"]):
                bad_keys.add(meta[i]["key"])
    elif workload == "pipelines":
        for o in run["after"]:
            i = o["id"]
            if not o["ok"]:
                bad_keys.add(meta[i]["key"])
                notes.append(f"{meta[i]['key']}: check run threw: "
                             f"{o.get('error')}")
            elif not compare(i, meta[i]["oracle"]):
                bad_keys.add(meta[i]["key"])
    else:
        spec = load("ingest_dashboard")
        for s in plan["prep"]:
            if not s.startswith(("DROP", "CREATE MATERIALIZED")):
                con.execute(s)
        ok = {o["id"]: o["ok"] for o in run["ops"] + run["after"]}
        executed = [op["id"] for op in plan["warmup"]] + \
            [o["id"] for o in run["ops"]]
        for i in executed:
            m = meta[i]
            if m["cls"] in ("write", "warmup") and \
                    not m["text"].startswith(("SELECT", "REFRESH")) and \
                    ok.get(i, True):
                n = con.execute(m["text"]).fetchall()
                changed[i] = n[0][0] if n else 0
            elif m["cls"] == "read" and i not in failed and \
                    not compare(i, m["text"]):
                failed.add(i)
        final_ok = True
        for op in plan["after"]:
            i = op["id"]
            if not ok.get(i, False):
                final_ok = False
                notes.append(f"final op {meta[i]['key']} threw")
            elif i in results:
                sql = meta[i]["text"]
                if sql.endswith(spec["mv"]["name"]):
                    sql = spec["mv"]["select"]
                final_ok &= compare(i, sql)
        if not final_ok:
            failed |= {o["id"] for o in run["ops"]
                       if meta[o["id"]]["cls"] == "write"}
    failed |= {o["id"] for o in run["ops"] if meta[o["id"]]["key"] in bad_keys}
    return failed, notes, changed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PLANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    try:
        jvm.build(os.path.join(WORK, "build.log"))
    except jvm.BuildError as e:
        log(f"[perfbench] build: {e}")
        log(jvm.log_tail(os.path.join(WORK, "build.log")))
        return 2

    work = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time())}")
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    for d in (data, tmp):
        os.makedirs(d)
    try:
        datagen.write(data, a.seed)
        plan, meta = PLANS[a.workload](a.seed, a.seconds)
        plan.update(data=data, tmp=tmp, cpus=len(os.sched_getaffinity(0)),
                    max_seconds=CAP * a.seconds)
        base = None
        if a.trace:
            base = harness(work, "base", dict(plan, trace=False))
            if base is None:
                return 1
        out = os.path.join(work, "out")
        run = harness(work, "out", dict(plan, trace=bool(a.trace)))
        if run is None:
            return 1
        results = {}
        with open(os.path.join(out, "results.jsonl")) as f:
            for line in f:
                i, cols, rows = decode_results(line)
                results[i] = (cols, rows)
        if not run["ops"]:
            log("[perfbench] no op completed inside the timed region")
            return 1
        failed, notes, changed = check_run(a.workload, meta, plan, run,
                                           results, data)
        if a.trace:
            values = metrics.per_layer(run, meta, changed, base)
            units = metrics.PER_LAYER
        else:
            values = metrics.end_to_end(run, meta)
            units = metrics.END_TO_END
        summarize(a, run, meta, failed, notes, values, units)
        print(json.dumps({
            "correct": not failed,
            "attempted": len(run["ops"]),
            "failed": len(failed),
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def harness(work, name, plan):
    """Run the plan in its own JVM; its run.json, or None on failure."""
    out = os.path.join(work, name)
    os.makedirs(out)
    plan_path = os.path.join(work, name + "-plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    jlog = os.path.join(work, name + "-jvm.log")
    rc = jvm.java("perfbench.Driver", [plan_path, out], plan["tmp"], jlog)
    if rc != 0:
        log(f"[perfbench] harness exited {rc}\n{jvm.log_tail(jlog)}")
        return None
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f)


def summarize(a, run, meta, failed, notes, values, units):
    reads = [o["wall_ms"] for o in run["ops"] if meta[o["id"]]["cls"] == "read"]
    tail = stats.tail_percentile(len(reads))
    log(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace}: "
        f"{len(run['ops'])} ops in {run['loop_ms'] / 1000:.1f} s, "
        f"{len(reads)} reads, failed {len(failed)} "
        f"(failed_ratio {len(failed) / len(run['ops']):.4f})")
    if tail:
        log(f"[perfbench] read tail: p{tail} = "
            f"{stats.percentile(reads, tail):.2f} ms "
            f"(highest percentile with >=10 of {len(reads)} samples beyond)")
    log("[perfbench] set-up (ms): " + ", ".join(
        f"{k} {v:.0f}" for k, v in run["setup"].items()))
    for k, u in units.items():
        log(f"  {k:28s} {values[k]:14.4f} {u}")
    for n in notes[:20]:
        log(f"[perfbench] {n}")


if __name__ == "__main__":
    sys.exit(main())
