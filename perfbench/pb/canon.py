"""Result canonicalization and fingerprints.

Follows `canon` in the repository's `tools/compare.py` (the oracle gate):
columns sorted by lower-cased name, floats at 6 significant digits, NaN as
the string "NaN", every other value by `repr`, rows sorted. One deviation:
-0.0 canonicalizes like 0.0, because SQL compares them equal. The copy is
kept here so a later change to the gate cannot change what the benchmark
accepts.
"""
import base64
import datetime
import decimal
import hashlib
import json
import math


def _cell(v, prec):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0
        return f"{v:.{prec}g}"
    return repr(v)


def canon(rows, cols, prec=6):
    """(sorted canonical rows, sorted column names)."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_cell(r[i], prec) for i in order) for r in rows)
    return out, [cols[i] for i in order]


def fingerprint(rows, cols, prec=6):
    """Stable digest of a result under `canon`."""
    c_rows, c_cols = canon(rows, cols, prec)
    h = hashlib.sha1(repr(c_cols).encode())
    for r in c_rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def _tagged(obj):
    if len(obj) != 1:
        return obj
    (tag, v), = obj.items()
    if tag == "$f":
        return float(v)
    if tag == "$dec":
        return decimal.Decimal(v)
    if tag == "$date":
        return datetime.date.fromisoformat(v)
    if tag == "$ts":
        return datetime.datetime.fromisoformat(v)
    if tag == "$bin":
        return base64.b64decode(v)
    if tag == "$row":
        return v
    if tag == "$map":
        return {k: x for k, x in v}
    return obj


def decode_results(line):
    """One line of the harness's results.jsonl -> (id, cols, rows)."""
    r = json.loads(line, object_hook=_tagged)
    return r["id"], r["cols"], [tuple(x) for x in r["rows"]]
