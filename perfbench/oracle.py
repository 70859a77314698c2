"""DuckDB oracle check behind `run.py --bless`.

Compares each operation's Spark output (parquet written by the bless
run) with its oracle SQL from SparkEntry.oracleSql, evaluated by DuckDB
over the workload's own fixture. Both sides go through the
canonicalization of scripts/check.py (FIXTURES.md: columns by name,
doubles to 6 dp, timestamps at µs); rows are then sorted, so the
comparison is independent of row order.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from check import TABLES, canon, rows_of  # noqa: E402


def rows(rel):
    cols, raw = rows_of(rel)
    return sorted(cols), sorted(canon(raw, cols), key=repr)


def judge(bless_json, parquet_dir, data_dir):
    """op -> expected entry: rows and fingerprint when the Spark output
    matches the oracle, the reason otherwise."""
    with open(bless_json) as f:
        res = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    exp = {}
    for op, r in sorted(res["ops"].items()):
        if "error" in r:
            exp[op] = {"oracle": "spark error: " + r["error"]}
            continue
        got_cols, got = rows(con.sql(f"SELECT * FROM read_parquet('{parquet_dir}/{op}/*.parquet')"))
        try:
            want_cols, want = rows(con.sql(res["oracle_sql"][op]))
        except Exception as e:  # an oracle that DuckDB rejects is a finding, not a crash
            exp[op] = {"oracle": f"oracle error: {str(e).splitlines()[0][:200]}"}
            continue
        entry = {}
        if got_cols != want_cols:
            entry["oracle"] = f"mismatch: columns {got_cols} vs {want_cols}"
        elif got != want:
            entry["oracle"] = f"mismatch: {len(got)} rows vs {len(want)} expected"
        elif not r["deterministic"]:
            entry["oracle"] = "nondeterministic: two executions gave different fingerprints"
        else:
            entry.update(oracle="match", rows=r["rows"], fp=r["fp"])
        exp[op] = entry
    return exp
