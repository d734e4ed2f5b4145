"""Checks harness results against DuckDB over the same fixture files."""
import threading

import duckdb

from pb.canon import canon, fingerprint
from pb.datagen import TABLES


def connect(data_dir, temp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET max_temp_directory_size = '1GB'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    return con


def duck_result(con, sql, timeout_s=60.0):
    """(lower-cased columns, rows); interrupted after timeout_s."""
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        rel = con.sql(sql)
        return [c.lower() for c in rel.columns], rel.fetchall()
    finally:
        timer.cancel()


def mismatch(got_cols, got_rows, exp_cols, exp_rows):
    """None when the results agree under `canon`, else a short reason."""
    if fingerprint(got_rows, got_cols) == fingerprint(exp_rows, exp_cols):
        return None
    g_rows, g_cols = canon(got_rows, got_cols)
    e_rows, e_cols = canon(exp_rows, exp_cols)
    if g_cols != e_cols:
        return f"columns {g_cols} != {e_cols}"
    diff = [(a, b) for a, b in zip(g_rows, e_rows) if a != b]
    return f"{len(g_rows)} vs {len(e_rows)} rows; first diffs {diff[:2]}"
