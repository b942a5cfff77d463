"""Seeded input generator for the stream workloads.

Derives `events` and `customer` from the sf0.1 tables in N copies: N = 1
for stream-replay (the sf0.1 replay with users remapped by the seed) and
N = 10 for stream-replay-10x. It is a separate component from the engine:
DuckDB writes the parquet files, and the engine only ever reads them.

- customer: copy k holds every sf0.1 customer with c_custkey + k*C, where
  C = max(c_custkey) + 1. Other columns are unchanged.
- events: copy k holds every sf0.1 event with event_id*N + k, the same ts,
  and user_id remapped by a seeded permutation of [0, C) drawn for copy k,
  offset by k*C. Users therefore land on seed-chosen customers of their own
  copy, so the dim join's output depends on the seed.
- Interleaved ids keep event_id order equal to ts order, which the
  Replayer's contiguous-id batch split needs.

Usage: python3 perfbench/geninput.py <src_dir> <out_dir> <seed> [copies]
"""
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa

def generate(src_dir, out_dir, seed, copies):
    """Write events.parquet and customer.parquet to out_dir; return the
    content hash of the pair."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW src_events AS SELECT * FROM '{src_dir}/events.parquet'")
    con.execute(f"CREATE VIEW src_customer AS SELECT * FROM '{src_dir}/customer.parquet'")
    n_cust = con.execute("SELECT max(c_custkey) + 1 FROM src_customer").fetchone()[0]
    users = np.array([r[0] for r in con.execute(
        "SELECT DISTINCT user_id FROM src_events ORDER BY 1").fetchall()], dtype=np.int64)
    rng = np.random.default_rng(seed)
    cps, olds, news = [], [], []
    for k in range(copies):
        perm = rng.permutation(n_cust)
        cps.append(np.full(len(users), k, dtype=np.int64))
        olds.append(users)
        news.append(perm[users] + k * n_cust)
    user_map = pa.table({"cp": np.concatenate(cps), "old_user": np.concatenate(olds),
                         "new_user": np.concatenate(news).astype(np.int64)})
    con.register("user_map", user_map)
    con.execute(f"""
        COPY (
          SELECT e.event_id * {copies} + m.cp AS event_id, e.ts,
                 m.new_user AS user_id, e.event_type, e.value, e.props
          FROM src_events e JOIN user_map m ON m.old_user = e.user_id
          ORDER BY event_id
        ) TO '{out_dir}/events.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (
          SELECT c.c_custkey + k.range * {n_cust} AS c_custkey, c.c_name,
                 c.c_nationkey, c.c_acctbal, c.c_mktsegment
          FROM src_customer c CROSS JOIN range({copies}) k
          ORDER BY c_custkey
        ) TO '{out_dir}/customer.parquet' (FORMAT parquet)""")
    return content_hash(out_dir)


def content_hash(out_dir):
    """Order-independent hash of every row of both generated tables."""
    con = duckdb.connect()
    ev = con.execute(f"""SELECT count(*), bit_xor(hash(event_id, ts, user_id,
        event_type, value, props)) FROM '{out_dir}/events.parquet'""").fetchone()
    cu = con.execute(f"""SELECT count(*), bit_xor(hash(c_custkey, c_name,
        c_nationkey, c_acctbal, c_mktsegment)) FROM '{out_dir}/customer.parquet'""").fetchone()
    return f"{ev[0]}:{ev[1]:016x}:{cu[0]}:{cu[1]:016x}"


def problems(out_dir):
    """The properties the engine relies on; returns a list of violations."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{out_dir}/events.parquet'")
    con.execute(f"CREATE VIEW customer AS SELECT * FROM '{out_dir}/customer.parquet'")
    out = []
    inversions = con.execute("""SELECT count(*) FROM (
        SELECT ts < lag(ts) OVER (ORDER BY event_id) AS inv FROM events) WHERE inv
        """).fetchone()[0]
    if inversions:
        out.append(f"{inversions} ts inversions in event_id order")
    orphans = con.execute("""SELECT count(*) FROM events
        WHERE user_id NOT IN (SELECT c_custkey FROM customer)""").fetchone()[0]
    if orphans:
        out.append(f"{orphans} events whose user_id is not a customer key")
    return out


if __name__ == "__main__":
    src, dst, s = sys.argv[1], sys.argv[2], int(sys.argv[3])
    print(generate(src, dst, s, int(sys.argv[4]) if len(sys.argv) > 4 else 10))
    bad = problems(dst)
    if bad:
        sys.exit("; ".join(bad))
