"""Inputs and the reference answer for the `ingest` workload.

Change batches over `customer`, shaped like the engine's `q_cdc_apply`
query: (k, op, nationkey, acctbal) with op in keep|update|delete|insert and
at most one change per key per batch. Batch 0 is the snapshot (every
customer, op `keep`); later batches update or delete live keys and insert
new ones. The reference state is computed here, independently of the
engine, by last-writer-wins over the batches in order."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([("k", pa.int64()), ("op", pa.string()),
                    ("nationkey", pa.int64()), ("acctbal", pa.float64())])
COLUMNS = [f.name for f in SCHEMA]


def _table(rows):
    k, op, nk, bal = zip(*rows) if rows else ((), (), (), ())
    return pa.table([pa.array(k, pa.int64()), pa.array(op, pa.string()),
                     pa.array(nk, pa.int64()), pa.array(bal, pa.float64())],
                    schema=SCHEMA)


def make_batches(customer_parquet, out_dir, seed, stream, count):
    """Write `count` batch files b00000.parquet.. to out_dir and return them
    as row lists. `stream` separates independent batch sequences of one
    seed (the setup's warm store and the timed store)."""
    cust = pq.read_table(customer_parquet,
                         columns=["c_custkey", "c_nationkey", "c_acctbal"])
    keys = cust["c_custkey"].to_numpy()
    snapshot = [(int(k), "keep", int(n), round(float(b), 2)) for k, n, b in zip(
        keys, cust["c_nationkey"].to_numpy(), cust["c_acctbal"].to_numpy())]
    size = max(10, len(keys) // 10)
    live = sorted(int(k) for k in keys)
    next_key = 1_000_000 + int(keys.max())
    batches = [snapshot]
    rng = np.random.default_rng([seed, stream])
    for _ in range(1, count):
        n_ins = size // 5
        n_del = size // 5
        n_upd = size - n_ins - n_del
        picked = rng.choice(len(live), n_upd + n_del, replace=False)
        chosen = [live[i] for i in picked]
        rows = [(k, "update", int(rng.integers(0, 25)),
                 round(float(rng.uniform(-999.99, 9999.99)), 2))
                for k in chosen[:n_upd]]
        rows += [(k, "delete", int(rng.integers(0, 25)), 0.0) for k in chosen[n_upd:]]
        new = list(range(next_key, next_key + n_ins))
        next_key += n_ins
        rows += [(k, "insert", int(rng.integers(0, 25)),
                  round(float(rng.uniform(-999.99, 9999.99)), 2)) for k in new]
        gone = set(chosen[n_upd:])
        live = sorted([k for k in live if k not in gone] + new)
        batches.append(rows)
    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        pq.write_table(_table(rows), os.path.join(out_dir, f"b{i:05d}.parquet"))
    return batches


def expected_state(batches):
    """Last writer wins per key over the batches in order; a key whose last
    change is a delete drops out. Rows sorted by key."""
    state = {}
    for rows in batches:
        for row in rows:
            state[row[0]] = row
    return sorted(r for r in state.values() if r[1] != "delete")


def read_state(path):
    """The engine's state output as sorted (k, op, nationkey, acctbal) rows."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    t = pa.concat_tables([pq.read_table(os.path.join(path, f)) for f in files])
    cols = [t[c].to_pylist() for c in COLUMNS]
    return sorted((int(k), op, int(n), float(b)) for k, op, n, b in zip(*cols))
