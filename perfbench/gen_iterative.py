"""Seeded inputs for the iterative-operator workload.

`pool/` holds a column projection of the TPC-H-ish sf0.1 tables the
engine's oracle queries run on: `documents` and `embeddings` whole, and
`orders(o_orderkey, o_custkey)` / `lineitem(l_orderkey, l_suppkey)` for
order keys below 37,500. `generate(out_dir, seed, share)` writes a seeded
subset (`share` of the rows) of each table in a seeded row order, so the
engine and the DuckDB oracle read the same derived inputs.
"""
import os

import numpy as np
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pool")
TABLES = ["documents", "embeddings", "orders", "lineitem"]


def generate(out_dir, seed, share):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes = {}
    for name in TABLES:
        table = pq.read_table(os.path.join(POOL, f"{name}.parquet"))
        keep = rng.permutation(table.num_rows)[:int(table.num_rows * share)]
        pq.write_table(table.take(keep), os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = len(keep)
    return sizes


if __name__ == "__main__":
    import sys
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
