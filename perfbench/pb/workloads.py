"""Seeded plans for the three workloads.

A plan is what the JVM harness executes (`perfbench.Driver`); its meta is
what `run.py` needs afterwards to check results and compute metrics. The
op lists come from the frozen files under `ops/`, so code changes elsewhere
in the repository cannot change what is measured.
"""
import json
import os
import random

OPS_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "ops")


def load(name):
    with open(os.path.join(OPS_DIR, name + ".json")) as f:
        return json.load(f)


# Seconds one timed cycle (round, on ingest_dashboard) took at the commit
# that froze the op lists, on a 4-core box. A run measures
# round(--seconds / this) whole cycles, at least one: the same work on
# every run of a workload, whatever the speed of the code or the box. (A
# time deadline instead makes the cycle count flip between runs, and
# runs with one more warm cycle read faster.)
CYCLE_S = {"adhoc_sql": 19.0, "pipelines": 3.2, "ingest_dashboard": 3.2}


def cycles(workload, seconds):
    return max(1, round(seconds / CYCLE_S[workload]))


class PlanMaker:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.meta = {}

    def op(self, kind, text, cls, key, dump=False, boundary=True, **extra):
        """One op; the timed loop may stop only after a boundary op."""
        i = self.next_id
        self.next_id += 1
        self.meta[i] = dict(cls=cls, key=key, kind=kind, text=text, **extra)
        return {"id": i, "kind": kind, "class": cls, "text": text,
                "dump": dump, "boundary": boundary}

    def clear_stage(self):
        return {"id": -1, "kind": "clear_stage"}


def adhoc_sql(seed, seconds):
    """Every frozen oracle text once per cycle, each cycle in seeded
    order."""
    texts = load("adhoc_sql")["queries"]
    b = PlanMaker(seed)
    # The same ten texts (every len/10-th by name) on every seed, so that
    # set-up does the same work on every run.
    warm = [b.op("sql", q["sql"], "warmup", q["name"])
            for q in texts[::len(texts) // 10][:10]]
    timed, seen = [], set()
    for _ in range(cycles("adhoc_sql", seconds)):
        for q in b.rng.sample(texts, len(texts)):
            first = q["name"] not in seen
            seen.add(q["name"])
            timed.append(b.op("sql", q["sql"], "read", q["name"], dump=first,
                              boundary=False))
        timed[-1]["boundary"] = True
    return dict(prep=[], warmup=warm, timed=timed, after=[]), b.meta


def pipelines(seed, seconds):
    """The frozen query-body sample, noop-materialized, Stage cache cleared
    before every cycle. Each body is collected once afterwards for the
    check."""
    qs = load("pipelines")["queries"]
    b = PlanMaker(seed)
    # A whole untimed cycle, so every timed cycle finds the bodies'
    # generated classes compiled and pays only the Stage builds.
    warm = [b.op("body", q["name"], "warmup", q["name"])
            for q in b.rng.sample(qs, len(qs))]
    timed = []
    for _ in range(cycles("pipelines", seconds)):
        timed.append(b.clear_stage())
        timed += [b.op("body", q["name"], "read", q["name"], boundary=False)
                  for q in b.rng.sample(qs, len(qs))]
        timed[-1]["boundary"] = True
    after = [b.op("body_rows", q["name"], "check", q["name"], dump=True,
                  oracle=q["oracle"]) for q in qs]
    return dict(prep=[], warmup=warm, timed=timed, after=after), b.meta


def ingest_dashboard(seed, seconds):
    """A rolling-window fact table with an MV, written and read through
    HeavyEngine.sql: per round INSERT the next batch, DELETE the oldest,
    UPDATE a seeded slice, REFRESH the MV, then the dashboard reads with
    literals from small domains."""
    spec = load("ingest_dashboard")
    nb, w = spec["batches"], spec["window"]
    b = PlanMaker(seed)

    def fmt(s, **kw):
        return s.format(columns=spec["columns"], window=w, **kw)

    def round_ops(r, cls_w, cls_r, passes):
        new, old = (w + r) % nb, r % nb
        kw = dict(new=new, old=old,
                  slice_batch=(r + 1 + b.rng.randrange(w)) % nb,
                  slice_mod=b.rng.randrange(10))
        ops = [b.op("sql", fmt(x["sql"], **kw), cls_w, x["name"],
                    boundary=False) for x in spec["writes"]]
        for x in spec["reads"] * passes:
            lit = {k: b.rng.choice(v) for k, v in spec["domains"].items()}
            ops.append(b.op("sql", fmt(x["sql"], **lit), cls_r, x["name"],
                            dump=cls_r == "read", boundary=False,
                            mv_eligible=x["mv_eligible"]))
        ops[-1]["boundary"] = True
        return ops

    prep = [fmt(s) for s in spec["prep"]]
    warm = round_ops(0, "warmup", "warmup", 1)
    timed = []
    for r in range(1, cycles("ingest_dashboard", seconds) + 1):
        timed += round_ops(r, "write", "read", spec["read_passes"])
    after = [b.op("sql", spec["writes"][-1]["sql"], "final", "refresh_mv")]
    after += [b.op("sql", s, "final", s, dump=True) for s in spec["final"]]
    return dict(prep=prep, warmup=warm, timed=timed, after=after), b.meta


PLANS = {"adhoc_sql": adhoc_sql, "pipelines": pipelines,
         "ingest_dashboard": ingest_dashboard}
