"""Checks registry outputs against their DuckDB oracle SQL.

Each output is compared the way the repository's correctness gate compares
Verify dumps: columns sorted by name, identical column types, identical row
count, and every value equal after normalisation (floats to 10 significant
digits), row by row in the query's own order. A rows-only output (no oracle
SQL) passes when every twin it declares passes.

Oracle answers depend only on the SQL text and the input tables, so their
digests are cached under the build directory, keyed by both.
"""
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def _quote(c):
    return '"' + c.replace('"', '""') + '"'


def _digest(con, rel):
    """(sorted columns with types, row count, digest of normalised rows)."""
    types = dict(zip(rel.columns, map(str, rel.types)))
    cols = sorted(rel.columns)
    nested = [c for c in cols if "[" in types[c] or types[c].startswith(("STRUCT", "MAP"))]
    if nested:
        raise ValueError(f"nested column types cannot be compared: {nested}")
    h = hashlib.sha256()
    n = 0
    cur = con.sql(f"SELECT {', '.join(map(_quote, cols))} FROM rel")
    while True:
        batch = cur.fetchmany(4096)
        if not batch:
            break
        for row in batch:
            h.update(("\x1f".join(map(_norm, row)) + "\n").encode())
            n += 1
    return [[c, types[c]] for c in cols], n, h.hexdigest()


def check(data_dir, outputs_dir, oracle_sql, twins, cache_path):
    """Returns {op: None if correct else a reason} for every dumped output."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.dirname(cache_path)}/duckdb-tmp'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    verdict = {}
    names = sorted(os.listdir(outputs_dir)) if os.path.isdir(outputs_dir) else []
    for name in names:
        if name not in oracle_sql:
            continue
        key = hashlib.sha256(f"{os.path.realpath(data_dir)}\n{oracle_sql[name]}".encode()).hexdigest()
        try:
            rel = con.sql(f"SELECT * FROM '{outputs_dir}/{name}/*.parquet'")
            got = _digest(con, rel)
            if key not in cache:
                rel = con.sql(oracle_sql[name])
                cache[key] = list(_digest(con, rel))
            want = tuple(cache[key])
            if got[0] != want[0]:
                verdict[name] = f"columns/types {got[0]} != oracle {want[0]}"
            elif got[1] != want[1]:
                verdict[name] = f"{got[1]} rows != oracle {want[1]}"
            elif got[2] != want[2]:
                verdict[name] = "values differ from the oracle"
            else:
                verdict[name] = None
        except Exception as e:  # a failing comparison is a failed check
            verdict[name] = f"oracle comparison failed: {e}"
    for name in names:
        if name in oracle_sql:
            continue
        declared = twins.get(name, [])
        bad = [t for t in declared if verdict.get(t, "missing") is not None]
        verdict[name] = None if declared and not bad else f"twins not green: {bad or 'none declared'}"
    tmp = f"{cache_path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(cache, f)
    os.replace(tmp, cache_path)
    return verdict
