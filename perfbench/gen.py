"""Seeded re-staging of the benchmark's inputs.

The inputs are the repository's sf0.01 test tables, committed under
`perfbench/data/sf0.01` (the data the DuckDB-oracle tests run on). From
`seed`, each table gets its own row order and its own split into 1-3
parquet files, so scan-split and join-order effects vary across seeds while
the content, and so every expected result, stays the real data's.
"""
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def undirected_edges(orders, lineitem):
    """Edge count of the customer-supplier purchase graph the graph calls
    build (distinct (o_custkey, l_suppkey) pairs, both orientations)."""
    cust = dict(zip(orders["o_orderkey"].to_pylist(), orders["o_custkey"].to_pylist()))
    pairs = {(cust[o], s) for o, s in zip(lineitem["l_orderkey"].to_pylist(),
                                          lineitem["l_suppkey"].to_pylist())}
    return 2 * len(pairs)


def generate(out_dir, seed, gate=None):
    """Re-stage and self-check one data set. `gate` = (limit, side) with side
    'below' or 'above' asserts the graph input's edge count against the
    LocalSolve size gate. Returns the manifest (row counts, edges)."""
    rng = np.random.default_rng(seed)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    src = {t: pq.read_table(os.path.join(SRC, f"{t}.parquet")) for t in TABLES}
    rows = {}
    for name, tb in src.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        tb = tb.take(rng.permutation(tb.num_rows))
        k = int(rng.integers(1, 4))
        bounds = np.linspace(0, tb.num_rows, k + 1).astype(int)
        for j in range(k):
            pq.write_table(tb.slice(bounds[j], bounds[j + 1] - bounds[j]),
                           os.path.join(d, f"part-{j:02d}.parquet"))
        rows[name] = pq.read_table(d).num_rows
        if rows[name] != src[name].num_rows:
            raise SystemExit(f"generator self-check: {name} has {rows[name]} rows, "
                             f"want {src[name].num_rows}")
    edges = undirected_edges(src["orders"], src["lineitem"])
    if gate is not None:
        limit, side = gate
        if (edges <= limit) != (side == "below"):
            raise SystemExit(f"generator self-check: {edges} edges are not {side} "
                             f"the gate of {limit}")
    manifest = {"seed": seed, "edges": edges, "rows": rows}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
