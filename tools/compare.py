#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
against DuckDB oracles and diff values. Dev tool only (driver-side python);
the shipped library is pure Scala/Spark.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>
Exits 1 when any query fails (an `XX` line), else 0.
"""
import sys, os, json, math
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return str(v)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        spark_tbl = con.sql(f"SELECT * FROM '{path}/*.parquet'")
        # mirror the driver's pandas harness, which dies on ndarray cells:
        # nested dtypes are an error even for rows-only queries (r3's d34)
        nested = [c for c, t in zip(spark_tbl.columns, map(str, spark_tbl.types))
                  if "[" in t or t.startswith("STRUCT") or t.startswith("MAP")]
        if nested:
            results[name] = f"NESTED-DTYPE (driver harness cannot hash): {nested}"
            continue
        if name not in oracle:
            results[name] = f"rows-only: {spark_tbl.shape[0]} rows"
            continue
        try:
            duck_tbl = con.sql(oracle[name])
        except Exception as e:
            results[name] = f"ORACLE-SQL-ERROR: {e}"
            continue
        s_cols = sorted(spark_tbl.columns)
        d_cols = sorted(duck_tbl.columns)
        if s_cols != d_cols:
            results[name] = f"SCHEMA-MISMATCH: spark={s_cols} duck={d_cols}"
            continue
        s_types = dict(zip(spark_tbl.columns, map(str, spark_tbl.types)))
        d_types = dict(zip(duck_tbl.columns, map(str, duck_tbl.types)))
        type_diff = {c: (s_types[c], d_types[c]) for c in s_cols
                     if s_types[c] != d_types[c]}
        if type_diff:
            results[name] = f"DTYPE-MISMATCH: {type_diff}"
            continue
        s_rows = con.sql(
            f"SELECT {', '.join(quote(c) for c in s_cols)} FROM spark_tbl").fetchall()
        duck_tbl2 = duck_tbl  # noqa
        d_rows = con.sql(
            f"SELECT {', '.join(quote(c) for c in d_cols)} FROM duck_tbl2").fetchall()
        if len(s_rows) != len(d_rows):
            results[name] = f"ROWCOUNT-MISMATCH: spark={len(s_rows)} duck={len(d_rows)}"
            continue
        bad = None
        for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
            if tuple(map(norm, sr)) != tuple(map(norm, dr)):
                bad = (i, sr, dr)
                break
        if bad:
            results[name] = f"VALUE-MISMATCH at row {bad[0]}: spark={bad[1]} duck={bad[2]}"
        else:
            results[name] = f"OK ({len(s_rows)} rows)"
    # queries that threw in Verify have no output dir — flag, don't skip
    manifest_path = os.path.join(out_dir, "queries.json")
    if os.path.exists(manifest_path):
        for name in json.load(open(manifest_path)):
            if name not in results:
                results[name] = "MISSING-OUTPUT (query failed in Verify)"
    # rows-only sandwich enforcement (r12 task 6): a rows-only query is
    # only as good as its declared oracle-gated twins — if any twin fails
    # (or is absent from a FULL run), the rows-only query fails with it.
    twins_path = os.path.join(out_dir, "twins.json")
    if os.path.exists(twins_path):
        # a subset dev run (Verify with explicit query args) legitimately
        # omits twins; only a full-registry run demands their presence
        partial_run = len(results) < 100
        for name, twins in json.load(open(twins_path)).items():
            if name not in results or not results[name].startswith("rows-only"):
                continue
            missing = [] if partial_run else \
                [t for t in twins if t not in results]
            failing = [t for t in twins
                       if t in results and not results[t].startswith("OK")]
            if missing or failing:
                results[name] = (f"TWIN-FAILING: sandwich twins "
                                 f"missing={missing} failing={failing}")
            else:
                n_present = sum(1 for t in twins if t in results)
                results[name] += f" [twins OK {n_present}/{len(twins)}]"
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    n_rows_only = sum(1 for v in results.values() if v.startswith("rows-only"))
    for k, v in sorted(results.items()):
        flag = "  " if v.startswith(("OK", "rows-only")) else "XX"
        print(f"{flag} {k}: {v}")
    n_failing = len(results) - n_ok - n_rows_only
    print(f"\n{n_ok} OK, {n_rows_only} rows-only, "
          f"{n_failing} failing, {len(results)} total")
    return n_failing


def quote(c):
    return '"' + c.replace('"', '""') + '"'


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
