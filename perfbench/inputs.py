"""Seeded input generation.

Every input is a pure function of (workload, seed): numpy's default PCG64
generator draws the rows, pyarrow writes them to parquet, and the engine
only ever sees those files (through ``BigDatalogContext.register_file``).
The same seed therefore gives byte-identical files, and oracles recompute
answers from the same frames.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes, one dict per workload. closure's seeds (arc rows) sit above
# EngineConfig.local_seed_max_rows (131072) so both queries run on the
# distributed PSN loops; bound_goals' graphs are small enough for the
# local tiers; relational is TPC-H-shaped at roughly scale factor 0.05.
SIZES = {
    "closure": {
        "tree_nodes": 160_000,  # non-linear TC: forest of random recursive trees
        "tree_size": 8,  # nodes per tree (keeps the closure near 2x the arcs)
        "cc_nodes": 20_000,  # connected components: sparse undirected graph
        "cc_edges": 75_000,  # undirected edges, stored in both directions
    },
    "bound_goals": {
        "tree_nodes": 20_000,  # one random recursive tree for tc goals
        "graph_nodes": 4_000,  # weighted digraph for apsp goals
        "graph_edges": 16_000,
        "max_weight": 100,
    },
    "relational": {
        "customers": 7_500,
        "orders": 75_000,
        "parts": 10_000,
        "suppliers": 500,
        # lineitems: 1..7 per order, about 4 x orders
    },
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
FLAGS = ["A", "N", "R"]
EPOCH = dt.date(1992, 1, 1)
EPOCH_DAYS = (EPOCH - dt.date(1970, 1, 1)).days  # date32 value of EPOCH
ORDER_DAYS = 2400  # order dates span 1992-01-01 .. 1998-07-28


def _i32(x) -> pa.Array:
    return pa.array(np.asarray(x, dtype=np.int32), pa.int32())


def _i64(x) -> pa.Array:
    return pa.array(np.asarray(x, dtype=np.int64), pa.int64())


def _dates(days) -> pa.Array:
    return pa.array(np.asarray(days, dtype=np.int32), pa.date32())


def _strings(values) -> pa.Array:
    return pa.array(list(values), pa.string())


def forest(rng: np.random.Generator, nodes: int, tree_size: int) -> pa.Table:
    """Random recursive trees of ``tree_size`` nodes: node i's parent is
    drawn uniformly from the earlier nodes of its tree. Edges run
    parent -> child."""
    child = np.arange(nodes, dtype=np.int64)
    root = (child // tree_size) * tree_size
    offset = child - root
    keep = offset > 0
    parent = root + (rng.random(nodes) * offset).astype(np.int64)
    return pa.table({"a": _i32(parent[keep]), "b": _i32(child[keep])})


def undirected(rng: np.random.Generator, nodes: int, edges: int) -> pa.Table:
    """Uniform random multigraph, each edge stored in both directions."""
    a = rng.integers(0, nodes, edges)
    b = rng.integers(0, nodes, edges)
    return pa.table({"x": _i32(np.concatenate([a, b])), "y": _i32(np.concatenate([b, a]))})


def weighted(rng: np.random.Generator, nodes: int, edges: int, max_weight: int) -> pa.Table:
    """Random weighted digraph without self-loops or parallel edges."""
    s = rng.integers(0, nodes, edges)
    d = rng.integers(0, nodes, edges)
    w = rng.integers(1, max_weight + 1, edges)
    keep = s != d
    s, d, w = s[keep], d[keep], w[keep]
    _, first = np.unique(s * nodes + d, return_index=True)
    first.sort()
    return pa.table({"s": _i32(s[first]), "d": _i32(d[first]), "w": _i32(w[first])})


def tpch(rng: np.random.Generator, sizes: dict) -> dict[str, pa.Table]:
    """TPC-H-shaped tables with integer money (cents) and percent
    discounts, so every answer is exact in both Spark and DuckDB."""
    nc, no, npart, ns = (sizes[k] for k in ("customers", "orders", "parts", "suppliers"))
    region = pa.table({"rk": _i32(range(5)), "rn": _strings(REGIONS)})
    nation = pa.table(
        {
            "nk": _i32(range(25)),
            "nn": _strings(f"NATION_{i:02d}" for i in range(25)),
            "rk": _i32(np.arange(25) % 5),
        }
    )
    ck = np.arange(1, nc + 1)
    customer = pa.table(
        {
            "ck": _i64(ck),
            "cn": _strings(f"Customer#{i:06d}" for i in ck),
            "nk": _i32(rng.integers(0, 25, nc)),
            "ab": _i64(rng.integers(-99_999, 1_000_000, nc)),
            "ms": _strings(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
        }
    )
    # as in TPC-H, a third of the customers (keys divisible by 3) never order
    ordering = ck[ck % 3 != 0]
    ok = np.arange(1, no + 1)
    od = rng.integers(0, ORDER_DAYS, no)
    orders = pa.table(
        {
            "ok": _i64(ok),
            "ck": _i64(rng.choice(ordering, no)),
            "st": _strings(np.array(STATUSES)[rng.integers(0, 3, no)]),
            "tp": _i64(rng.integers(100_000, 50_000_000, no)),
            "od": _dates(EPOCH_DAYS + od),
            "op": _strings(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
        }
    )
    lines = rng.integers(1, 8, no)
    lok = np.repeat(ok, lines)
    starts = np.cumsum(lines) - lines
    ln = np.arange(lines.sum()) - np.repeat(starts, lines) + 1
    nl = len(lok)
    qty = rng.integers(1, 51, nl)
    lineitem = pa.table(
        {
            "ok": _i64(lok),
            "pk": _i64(rng.integers(1, npart + 1, nl)),
            "sk": _i64(rng.integers(1, ns + 1, nl)),
            "ln": _i32(ln),
            "q": _i32(qty),
            "ep": _i64(qty * rng.integers(90_000, 200_000, nl)),
            "d": _i32(rng.integers(0, 11, nl)),
            "rf": _strings(np.array(FLAGS)[rng.integers(0, 3, nl)]),
            "sd": _dates(EPOCH_DAYS + np.repeat(od, lines) + rng.integers(1, 122, nl)),
        }
    )
    pk = np.arange(1, npart + 1)
    part = pa.table(
        {
            "pk": _i64(pk),
            "pb": _strings(f"Brand#{i}{j}" for i, j in rng.integers(1, 6, (npart, 2))),
            "rp": _i64(90_000 + (pk // 10) % 20_001 + 100 * (pk % 1_000)),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "part": part,
    }


# Inputs of the untimed warm-up pass. closure's keep many rows but few
# iterations (trees of 4 nodes, a graph of tiny components), so the JIT
# sees the hot operators at volume without paying dozens of loop
# iterations; the others are the measured shapes at an eighth of the size.
WARMUP_SIZES = {
    "closure": {"tree_nodes": 80_000, "tree_size": 4, "cc_nodes": 100_000, "cc_edges": 10_000},
    "bound_goals": {**SIZES["bound_goals"], "tree_nodes": 2_500, "graph_nodes": 500, "graph_edges": 2_000},
    "relational": {k: v // 8 for k, v in SIZES["relational"].items()},
}


def tables(workload: str, seed: int, sizes: dict | None = None) -> dict[str, pa.Table]:
    """All input tables of ``workload`` for ``seed``, at ``sizes`` (default
    ``SIZES[workload]``)."""
    rng = np.random.default_rng(seed)
    s = sizes or SIZES[workload]
    if workload == "closure":
        return {
            "tree": forest(rng, s["tree_nodes"], s["tree_size"]),
            "graph": undirected(rng, s["cc_nodes"], s["cc_edges"]),
        }
    if workload == "bound_goals":
        return {
            "tree": forest(rng, s["tree_nodes"], s["tree_nodes"]),
            "warc": weighted(rng, s["graph_nodes"], s["graph_edges"], s["max_weight"]),
        }
    return tpch(rng, s)


def write(tabs: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write tables as parquet files; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tabs.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths[name] = path
    return paths
