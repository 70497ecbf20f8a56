#!/usr/bin/env python3
"""DuckDB oracle for the analytics_sf01 workload.

check(scratch) compares each query result the benchmark wrote under
<scratch>/analytics/<query>/ with the query's oracle SQL run in DuckDB over the
same fixtures, by the rules of tools/check.py: column names compared sorted,
rows compared sorted after normalizing every value to its repr.

The oracle side of each (fixture dir, SQL text) pair is computed once and kept
under perfbench/target/oracle-cache/. Recompute every cached entry from DuckDB:
  python3 perfbench/oracle.py --recompute
"""
import glob
import hashlib
import json
import math
import os
import sys

import duckdb

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "target", "oracle-cache")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v!r}"
    return repr(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm(r[i]) for i in order) for r in rows)


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compute(con, sql):
    rel = con.sql(sql)
    cols, rows = canon(rel.columns, rel.fetchall())
    return {"cols": cols, "rows": [list(r) for r in rows]}


def oracle(con, sf_dir, sql):
    key = hashlib.sha256(f"{sf_dir}\n{sql}".encode()).hexdigest()
    path = os.path.join(CACHE, key + ".json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)["result"]
    res = compute(con, sql)
    os.makedirs(CACHE, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"sf_dir": sf_dir, "sql": sql, "result": res}, fh)
    os.replace(tmp, path)
    return res


def check(scratch):
    """Problems found comparing the written results with the oracle."""
    out = os.path.join(scratch, "analytics")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    with open(os.path.join(out, "sf_dir.txt")) as fh:
        sf_dir = fh.read().strip()
    con = connect(sf_dir)
    problems = []
    names = sorted(d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d)))
    for name in names:
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no result files")
            continue
        rel = con.sql(f"SELECT * FROM read_parquet('{os.path.join(out, name)}/*.parquet')")
        cols, rows = canon(rel.columns, rel.fetchall())
        if name not in sqls:  # self-gating queries are checked on rows only
            if not rows:
                problems.append(f"{name}: empty result")
            continue
        want = oracle(con, sf_dir, sqls[name])
        got = {"cols": cols, "rows": [list(r) for r in rows]}
        if got["cols"] != want["cols"]:
            problems.append(f"{name}: columns {got['cols']} != oracle {want['cols']}")
        elif len(got["rows"]) != len(want["rows"]):
            problems.append(f"{name}: {len(got['rows'])} rows != oracle {len(want['rows'])}")
        elif got["rows"] != want["rows"]:
            bad = sum(1 for a, b in zip(got["rows"], want["rows"]) if a != b)
            problems.append(f"{name}: values differ in {bad}/{len(want['rows'])} rows")
    return problems


def recompute():
    for path in sorted(glob.glob(os.path.join(CACHE, "*.json"))):
        with open(path) as fh:
            entry = json.load(fh)
        entry["result"] = compute(connect(entry["sf_dir"]), entry["sql"])
        with open(path, "w") as fh:
            json.dump(entry, fh)
        print(f"recomputed {os.path.basename(path)}")


if __name__ == "__main__":
    if sys.argv[1:] == ["--recompute"]:
        recompute()
    else:
        print(__doc__)
        sys.exit(2)
