#!/usr/bin/env python3
"""Re-derive the frozen op lists `ops/adhoc_sql.json` and `ops/pipelines.json`.

    python3 perfbench/derive.py probe <seed>...   # one sweep per seed
    python3 perfbench/derive.py select <seed>...  # write the op lists

`probe` runs every registered oracle SQL text through HeavyEngine.sql and
every registered query body (noop-materialized, traced, then collected)
on the seeded sf0.1 tables, checks each against DuckDB, and saves the
outcome under .work/. `select` keeps what ran and matched on every probed
seed. The lists are frozen: rerun this only in a change that redefines
the benchmark.
"""
import json
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb import check, datagen, jvm  # noqa: E402
from pb.canon import decode_results, fingerprint  # noqa: E402
from pb.workloads import OPS_DIR  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")

# adhoc_sql cycle: the cheapest texts that ran and matched, up to this sum
# of probe walls (ms), so that a run measures at least one whole cycle.
ADHOC_CYCLE_MS = 16000.0
# Pipeline sample: this many bodies that build Stage tables and this many
# that do not, at most one per module, among bodies whose noop wall lies
# in the band (ms) — so one cycle stays short next to a run.
STAGE_PICKS, PLAIN_PICKS = 4, 4
WALL_BAND = (150.0, 600.0)
# Results larger than this are not candidates: every run collects and
# checks each distinct result, and a bulk export is not an interactive read.
MAX_ROWS = 20000
# Oracle texts slower than this in DuckDB are not candidates: each run
# checks every text it executed, inside the run's time limit.
DUCK_MS = 1000.0
# Oracle texts that matched on the derivation seeds but not on every seed
# the benchmark has run with since. A workload must have no op that fails
# on any seed, so they are not candidates; NOTES.md names each and says why.
SEED_DEPENDENT = {"q379_woe_encoding"}


def probe(seed):
    os.makedirs(WORK, exist_ok=True)
    jvm.build(os.path.join(WORK, "build.log"))
    work = os.path.join(WORK, f"probe-{seed}")
    data, tmp, out = (os.path.join(work, d) for d in ("data", "tmp", "out"))
    lst = os.path.join(work, "queries.json")
    if not os.path.exists(os.path.join(out, "run.json")):
        shutil.rmtree(work, ignore_errors=True)
        for d in (data, tmp, out):
            os.makedirs(d)
        datagen.write(data, seed)
        rc = jvm.java("perfbench.ListQueries", [], tmp, lst, timeout=300)
        assert rc == 0, "ListQueries failed"
    with open(lst) as f:
        queries = json.loads(f.read().strip().splitlines()[-1])
    names = sorted(queries)
    timed, after, meta = [], [], {}
    for n, name in enumerate(names):
        # ids: 3n = oracle text, 3n+1 = noop body, 3n+2 = collected body
        meta[3 * n] = ("sql", name)
        meta[3 * n + 1] = ("body", name)
        meta[3 * n + 2] = ("body_rows", name)
        timed.append({"id": 3 * n, "kind": "sql", "class": "read",
                      "text": queries[name]["oracle"], "dump": True})
        timed.append({"id": -1, "kind": "clear_stage"})
        timed.append({"id": 3 * n + 1, "kind": "body", "class": "read",
                      "text": name})
        after.append({"id": 3 * n + 2, "kind": "body_rows", "class": "check",
                      "text": name, "dump": True})
    if not os.path.exists(os.path.join(out, "run.json")):
        plan = dict(data=data, tmp=tmp, cpus=len(os.sched_getaffinity(0)),
                    max_seconds=1e6, trace=True, prep=[], warmup=[],
                    timed=timed, after=after)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        rc = jvm.java("perfbench.Driver", [plan_path, out], tmp,
                      os.path.join(work, "jvm.log"), timeout=7200)
        assert rc == 0, f"probe harness exited {rc}"
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    report = {name: {"module": queries[name]["module"],
                     "oracle": queries[name]["oracle"]} for name in names}
    counts = run.get("counts", {})
    for o in run["ops"] + run["after"]:
        kind, name = meta[o["id"]]
        r = report[name]
        r[kind + "_ms"] = o["wall_ms"]
        r[kind + "_ok"] = o["ok"]
        if not o["ok"]:
            r[kind + "_why"] = f"threw: {o.get('error')}"[:300]
        if kind == "body":
            c = counts.get(str(o["id"]), {})
            r["stage_build_ms"] = c.get("stage_build_ms", 0.0)
            r["jobs"] = c.get("jobs", 0.0)
    con = check.connect(data, tmp)
    oracle = {}  # name -> (fingerprint, DuckDB ms) or (None, reason)
    with open(os.path.join(out, "results.jsonl")) as f:
        for line in f:
            i, cols, rows = decode_results(line)
            kind, name = meta[i]
            r = report[name]
            r[kind + "_rows"] = len(rows)
            if len(rows) > MAX_ROWS:
                why = f"result of {len(rows)} rows exceeds {MAX_ROWS}"
            else:
                if name not in oracle:
                    t = time.perf_counter()
                    try:
                        exp_cols, exp = check.duck_result(
                            con, queries[name]["oracle"], timeout_s=10)
                        oracle[name] = (fingerprint(exp, exp_cols),
                                        (time.perf_counter() - t) * 1000)
                    except Exception as e:  # DuckDB fails or times out
                        oracle[name] = (None, f"duckdb: {e}"[:300])
                    if oracle[name][0] is not None:
                        r["duck_ms"] = oracle[name][1]
                fp, info = oracle[name]
                why = info if fp is None else (
                    None if fingerprint(rows, cols) == fp else "mismatch")
            if why:
                r[kind + "_ok"] = False
                r[kind + "_why"] = why
            print(f"{kind} {name}: {why or 'ok'}", flush=True)
    with open(os.path.join(WORK, f"probe-{seed}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)


def select(seeds):
    probes = []
    for s in seeds:
        with open(os.path.join(WORK, f"probe-{s}.json")) as f:
            probes.append(json.load(f))
    names = sorted(probes[0])

    def all_ok(name, kind):
        return all(p[name].get(kind + "_ok") for p in probes)

    ran = sorted((n for n in names if all_ok(n, "sql")
                  and n not in SEED_DEPENDENT
                  and all(p[n].get("duck_ms", 1e9) <= DUCK_MS
                          for p in probes)),
                 key=lambda n: probes[0][n]["sql_ms"])
    adhoc, cycle_ms = [], 0.0
    for n in ran:  # cheapest first, up to the cycle budget
        cycle_ms += probes[0][n]["sql_ms"]
        if cycle_ms > ADHOC_CYCLE_MS:
            break
        adhoc.append({"name": n, "sql": probes[0][n]["oracle"]})
    adhoc.sort(key=lambda q: q["name"])
    with open(os.path.join(OPS_DIR, "adhoc_sql.json"), "w") as f:
        json.dump({"derived_from_seeds": seeds, "registered": len(names),
                   "ran_and_matched": len(ran), "queries": adhoc}, f,
                  indent=1)

    rng = random.Random(0)
    pool = [n for n in names if all_ok(n, "body") and all_ok(n, "body_rows")
            and all(WALL_BAND[0] <= p[n]["body_ms"] <= WALL_BAND[1]
                    for p in probes)
            and all(p[n].get("duck_ms", 1e9) <= DUCK_MS for p in probes)]
    stage = [n for n in pool if all(p[n]["stage_build_ms"] > 0
                                    for p in probes)]
    plain = [n for n in pool if all(p[n]["stage_build_ms"] == 0
                                    for p in probes)]
    picked, modules = [], set()
    for group, k in ((stage, STAGE_PICKS), (plain, PLAIN_PICKS)):
        got = 0
        for n in rng.sample(group, len(group)):
            m = probes[0][n]["module"]
            if got < k and m not in modules:
                picked.append(n)
                modules.add(m)
                got += 1
    pipes = [{"name": n, "module": probes[0][n]["module"],
              "oracle": probes[0][n]["oracle"],
              "stage": n in stage} for n in sorted(picked)]
    with open(os.path.join(OPS_DIR, "pipelines.json"), "w") as f:
        json.dump({"derived_from_seeds": seeds, "pool": len(pool),
                   "queries": pipes}, f, indent=1)
    print(f"adhoc_sql: {len(adhoc)} of {len(ran)} texts that ran and "
          f"matched ({len(names)} registered); pipelines: "
          f"{len(pipes)} of a pool of {len(pool)} "
          f"({len(stage)} build Stage tables)")


if __name__ == "__main__":
    cmd, seeds = sys.argv[1], [int(s) for s in sys.argv[2:]]
    if cmd == "probe":
        for s in seeds:
            probe(s)
    else:
        select(seeds)
