"""DuckDB oracle gate for the benchmark's query outputs.

Each query's output (parquet, written by the warm-up pass) is compared with
its oracle, `SparkEntry.oracleSql`, run by DuckDB over the same input
tables. Both sides are canonicalized as `tools/oracle_check.py` does it:
columns sorted by name, every value rendered with `repr`, rows sorted.
Floats must therefore match bit for bit.
"""
import glob
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(con, rel_sql):
    df = con.execute(rel_sql).fetch_arrow_table()
    cols = sorted(df.column_names)
    rows = []
    for batch in df.to_batches():
        d = batch.to_pylist()
        rows.extend(tuple(repr(r[c]) for c in cols) for r in d)
    rows.sort()
    return cols, rows


def compare(con, out_dir, name, sql):
    """Return "OK" or a one-line reason the output does not match."""
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return "EMPTY-OUTPUT"
    try:
        got_cols, got = canon(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        exp_cols, exp = canon(con, sql)
    except Exception as e:  # an oracle that cannot run is a failure too
        return f"ORACLE-ERROR {str(e)[:200]}"
    if got_cols != exp_cols:
        return f"SCHEMA-MISMATCH got={got_cols} exp={exp_cols}"
    if len(got) != len(exp):
        return f"ROWCOUNT got={len(got)} exp={len(exp)}"
    if got != exp:
        bad = next(i for i, (g, e) in enumerate(zip(got, exp)) if g != e)
        return f"VALUE-MISMATCH first at sorted-row {bad}: got={got[bad]} exp={exp[bad]}"
    return "OK"


def check(data_dir, out_dir, names):
    """Compare every named output with its oracle; a name without an
    oracle SQL is reported as a failure (the workloads use none)."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    return {n: compare(con, out_dir, n, oracle[n]) if n in oracle else "NO-ORACLE"
            for n in names}
