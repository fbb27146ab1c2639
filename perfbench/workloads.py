"""The three workloads: their DeAL programs, seeded query streams and
answer oracles.

A ``Query`` is one goal against one program. The oracles recompute each
answer outside the engine (networkx for the recursive workloads, DuckDB
for the relational one) and reduce it to ``Answer(rows, checksum)``: the
row count plus an order-independent checksum over the rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from dataclasses import dataclass, field
from typing import Callable

import networkx as nx
import numpy as np
import pandas as pd
import pyarrow as pa

from inputs import EPOCH, FLAGS, ORDER_DAYS, PRIORITIES, REGIONS, SEGMENTS, STATUSES


@dataclass(frozen=True)
class Answer:
    rows: int
    checksum: int


@dataclass(frozen=True)
class Query:
    key: str  # query shape: census, overhead and oracle grouping
    program: str  # DeAL schema + rules
    goal: str
    relations: tuple[str, ...]  # inputs the program reads
    const: int | None = None  # a bound goal's constant


@dataclass(frozen=True)
class Workload:
    # the passes one run makes for a given --seconds: a fixed amount of
    # work sized to last about that long on a 4-core host
    plan: Callable[[float], list[list[Query]]]
    oracle: Callable[[Query], Answer]
    setup_program: str  # loaded once at set-up, with every input registered
    # closure/relational: each query loads its program and registers its
    # inputs on a fresh context, then resets it; bound_goals keeps one
    # long-lived context for the whole stream
    reset_each_query: bool
    # EngineConfig overrides for the untimed warm-up on small inputs, so it
    # takes the execution paths the measured queries take
    warmup_config: dict = field(default_factory=dict)


# ------------------------------------------------------------ checksum

_MULT = np.uint64(0x9E3779B97F4A7C15)


def _column_words(values: pd.Series) -> np.ndarray:
    """One uint64 per value: integers as themselves, anything else
    (strings, dates) through a 64-bit BLAKE2b of its text."""
    if pd.api.types.is_integer_dtype(values.dtype):
        return values.to_numpy(dtype=np.int64).view(np.uint64)
    return np.fromiter(
        (
            int.from_bytes(hashlib.blake2b(str(v).encode(), digest_size=8).digest(), "little")
            for v in values
        ),
        dtype=np.uint64,
        count=len(values),
    )


def answer(frame: pd.DataFrame) -> Answer:
    """Row count + order-independent checksum (columns by position)."""
    h = np.zeros(len(frame), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(frame.shape[1]):
            h = (h ^ _column_words(frame.iloc[:, j])) * _MULT + np.uint64(j + 1)
            h ^= h >> np.uint64(29)
        total = int(h.sum(dtype=np.uint64))
    return Answer(len(frame), total)


def _edges(table: pa.Table) -> list[tuple]:
    return list(zip(*(table.column(i).to_pylist() for i in range(table.num_columns))))


# ------------------------------------------------------------ closure

TC_PROGRAM = (
    "database({tree(A:integer, B:integer)})."
    "tc(A,B) <- tree(A,B)."
    "tc(A,B) <- tc(A,C), tc(C,B)."
)
CC_PROGRAM = (
    "database({graph(X:integer, Y:integer)})."
    "cc3(X,mmin<X>) <- graph(X,_)."
    "cc3(Y,mmin<V>) <- cc3(X,V), graph(X,Y)."
    "cc2(X,min<Y>) <- cc3(X,Y)."
)


CLOSURE_PASS_SECONDS = 10.0  # one pass of both queries
GOAL_SECONDS = 1.0  # one bound goal
RELATIONAL_PASS_SECONDS = 7.0  # one pass of the ten rule shapes


def _passes(queries: list[Query], seconds: float, pass_seconds: float):
    return [queries] * max(1, round(seconds / pass_seconds))


def closure(tables: dict[str, pa.Table], seed: int):
    queries = [
        Query("tc_nonlinear", TC_PROGRAM, "tc(A,B).", ("tree",)),
        Query("cc_mmin", CC_PROGRAM, "cc2(X,Y).", ("graph",)),
    ]

    def oracle(q: Query) -> Answer:
        if q.key == "tc_nonlinear":
            # the input is a forest: a node's ancestors are its parent's
            # ancestors plus the parent, in breadth-first order from each root
            g = nx.DiGraph(_edges(tables["tree"]))
            ancestors = {}
            pairs = []
            for root in (v for v in g if g.in_degree(v) == 0):
                ancestors[root] = []
                for parent, child in nx.bfs_edges(g, root):
                    ancestors[child] = ancestors[parent] + [parent]
                    pairs.extend((a, child) for a in ancestors[child])
            return answer(pd.DataFrame(pairs, dtype=np.int64))
        g = nx.Graph(_edges(tables["graph"]))
        rows = [(v, m) for c in nx.connected_components(g) for m in (min(c),) for v in c]
        return answer(pd.DataFrame(rows, dtype=np.int64))

    return Workload(
        lambda seconds: _passes(queries, seconds, CLOSURE_PASS_SECONDS),
        oracle, TC_PROGRAM + CC_PROGRAM, True,
        # the small warm-up seeds would otherwise take the local tiers
        warmup_config={"local_seed_max_rows": 0},
    )


# ------------------------------------------------------------ bound goals

BOUND_PROGRAM = (
    "database({tree(A:integer, B:integer), warc(S:integer, D:integer, W:integer)})."
    "tc(A,B) <- tree(A,B)."
    "tc(A,B) <- tc(A,C), tree(C,B)."
    "apsp(X,Y,mmin<D>) <- warc(X,Y,D)."
    "apsp(X,Y,mmin<D>) <- apsp(X,Z,D1), warc(Z,Y,W), D = D1 + W."
)


def bound_goals(tables: dict[str, pa.Table], seed: int):
    """Forward tc(c,B), reverse tc(A,c) and single-source apsp(c,Y,D),
    interleaved. Constants are distinct within a shape, so the bound-goal
    memo never answers a goal it has not computed."""
    tree = nx.DiGraph(_edges(tables["tree"]))
    warc = nx.DiGraph()
    warc.add_weighted_edges_from(_edges(tables["warc"]))
    rng = np.random.default_rng([seed, 1])
    shapes = [
        ("tc_forward", "tc({c},B).", sorted(v for v in tree if tree.out_degree(v))),
        ("tc_reverse", "tc(A,{c}).", sorted(v for v in tree if tree.in_degree(v))),
        ("apsp_bound", "apsp({c},Y,D).", sorted(v for v in warc if warc.out_degree(v))),
    ]
    shapes = [(key, goal, rng.permutation(nodes)) for key, goal, nodes in shapes]

    def plan(seconds: float) -> list[list[Query]]:
        """One pass of about ``seconds`` goals, a third of each shape."""
        n = max(1, round(seconds / GOAL_SECONDS / 3))
        return [[
            Query(key, BOUND_PROGRAM, goal.format(c=int(consts[i])), ("tree", "warc"), int(consts[i]))
            for i in range(n)
            for key, goal, consts in shapes
        ]]

    def oracle(q: Query) -> Answer:
        c = q.const
        if q.key == "tc_forward":
            rows = [(c, d) for d in nx.descendants(tree, c)]
        elif q.key == "tc_reverse":
            rows = [(a, c) for a in nx.ancestors(tree, c)]
        else:
            # shortest paths of length >= 1: Dijkstra from a virtual source
            # wired to c's successors
            g = warc.copy()
            g.add_weighted_edges_from((-1, b, w["weight"]) for b, w in warc[c].items())
            dist = nx.single_source_dijkstra_path_length(g, -1)
            rows = [(c, y, d) for y, d in dist.items() if y != -1]
        return answer(pd.DataFrame(rows, dtype=np.int64))

    return Workload(plan, oracle, BOUND_PROGRAM, False)


# ------------------------------------------------------------ relational

TPCH_SCHEMA = (
    "database({region(RK:integer, RN:string),"
    "nation(NK:integer, NN:string, RK:integer),"
    "customer(CK:long, CN:string, NK:integer, AB:long, MS:string),"
    "orders(OK:long, CK:long, ST:string, TP:long, OD:datetime, OP:string),"
    "lineitem(OK:long, PK:long, SK:long, LN:integer, Q:integer, EP:long,"
    " D:integer, RF:string, SD:datetime),"
    "part(PK:long, PB:string, RP:long)})."
)


def relational(tables: dict[str, pa.Table], seed: int):
    """Ten non-recursive rule shapes; the seed picks their constants.
    Each entry: (key, rules, goal, relations, equivalent SQL)."""
    rng = np.random.default_rng([seed, 2])

    def pick(xs):
        return xs[int(rng.integers(len(xs)))]

    prio, region, status, seg, flag = (
        pick(PRIORITIES), pick(REGIONS), pick(STATUSES), pick(SEGMENTS), pick(FLAGS)
    )
    tp = int(rng.integers(40_000_000, 46_000_000))
    nk, q, d, ab, k = (int(rng.integers(*r)) for r in ((5, 20), (30, 45), (8, 11), (800_000, 950_000), (5, 20)))
    day0 = int(rng.integers(0, ORDER_DAYS - 90))
    d0 = EPOCH + dt.timedelta(days=day0)
    d1 = d0 + dt.timedelta(days=90)
    brand = f"Brand#{int(rng.integers(1, 6))}{int(rng.integers(1, 6))}"
    shapes = [
        ("filter_project",
         f"big_orders(OK, CK, TP) <- orders(OK, CK, _, TP, _, '{prio}'), TP > {tp}.",
         "big_orders(OK, CK, TP).", ("orders",),
         f"SELECT DISTINCT ok, ck, tp FROM orders WHERE op = '{prio}' AND tp > {tp}"),
        ("join3_const",
         f"cust_region(CK, NN) <- customer(CK, _, NK, _, _), nation(NK, NN, RK), region(RK, '{region}').",
         "cust_region(CK, NN).", ("customer", "nation", "region"),
         "SELECT DISTINCT c.ck, n.nn FROM customer c JOIN nation n ON c.nk = n.nk "
         f"JOIN region r ON n.rk = r.rk WHERE r.rn = '{region}'"),
        ("negation",
         f"no_orders(CK) <- customer(CK, _, _, _, _), ~orders(_, CK, '{status}', _, _, _).",
         "no_orders(CK).", ("customer", "orders"),
         "SELECT DISTINCT ck FROM customer c WHERE NOT EXISTS "
         f"(SELECT 1 FROM orders o WHERE o.ck = c.ck AND o.st = '{status}')"),
        ("multi_agg",
         f"seg_stats(MS, count<CK>, sum<AB>, max<AB>) <- customer(CK, _, NK, AB, MS), NK < {nk}.",
         "seg_stats(MS, N, S, M).", ("customer",),
         "SELECT ms, COUNT(ck), CAST(SUM(ab) AS BIGINT), MAX(ab) FROM customer "
         f"WHERE nk < {nk} GROUP BY ms"),
        ("countd",
         f"supp_parts(SK, countd<PK>) <- lineitem(_, PK, SK, _, Q, _, _, _, _), Q > {q}.",
         "supp_parts(SK, N).", ("lineitem",),
         f"SELECT sk, COUNT(DISTINCT pk) FROM lineitem WHERE q > {q} GROUP BY sk"),
        ("arith",
         f"disc_rev(OK, LN, R) <- lineitem(OK, _, _, LN, _, EP, D, '{flag}', _), D >= {d}, "
         "R = EP * (100 - D).",
         "disc_rev(OK, LN, R).", ("lineitem",),
         f"SELECT DISTINCT ok, ln, ep * (100 - d) FROM lineitem WHERE rf = '{flag}' AND d >= {d}"),
        ("date_range",
         f"shipped(OK, LN) <- lineitem(OK, _, _, LN, _, _, _, _, SD), SD >= '{d0}', SD < '{d1}'.",
         "shipped(OK, LN).", ("lineitem",),
         f"SELECT DISTINCT ok, ln FROM lineitem WHERE sd >= DATE '{d0}' AND sd < DATE '{d1}'"),
        ("union_distinct",
         f"picked(CK) <- customer(CK, _, _, AB, _), AB > {ab}."
         f"picked(CK) <- customer(CK, _, _, _, '{seg}').",
         "picked(CK).", ("customer",),
         f"SELECT ck FROM customer WHERE ab > {ab} UNION SELECT ck FROM customer WHERE ms = '{seg}'"),
        ("sort_limit",
         f"top_parts(PK, RP) <- part(PK, '{brand}', RP), sort((RP, desc), (PK, asc)), limit({k}).",
         "top_parts(PK, RP).", ("part",),
         f"SELECT pk, rp FROM part WHERE pb = '{brand}' ORDER BY rp DESC, pk ASC LIMIT {k}"),
        ("join_agg",
         "nation_rev(NN, sum<EP>) <- lineitem(OK, _, _, _, _, EP, _, _, _), "
         f"orders(OK, CK, _, _, _, '{prio}'), customer(CK, _, NK, _, _), nation(NK, NN, _).",
         "nation_rev(NN, R).", ("lineitem", "orders", "customer", "nation"),
         "SELECT n.nn, CAST(SUM(l.ep) AS BIGINT) FROM lineitem l JOIN orders o ON l.ok = o.ok "
         "JOIN customer c ON o.ck = c.ck JOIN nation n ON c.nk = n.nk "
         f"WHERE o.op = '{prio}' GROUP BY n.nn"),
    ]
    queries = [Query(key, TPCH_SCHEMA + rules, goal, rels) for key, rules, goal, rels, _ in shapes]
    sql = {key: text for key, _, _, _, text in shapes}

    def oracle(q: Query) -> Answer:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for name in q.relations:
                con.register(name, tables[name])
            return answer(con.execute(sql[q.key]).fetchdf())
        finally:
            con.close()

    return Workload(
        lambda seconds: _passes(queries, seconds, RELATIONAL_PASS_SECONDS),
        oracle, TPCH_SCHEMA, True,
    )


WORKLOADS = {"closure": closure, "bound_goals": bound_goals, "relational": relational}
