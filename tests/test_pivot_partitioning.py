"""GPS-lite on the DISTRIBUTED fixpoint: a decomposable clique's segmented
set is hash-partitioned on its pivot columns, and when the per-iteration
candidate chain (sealed delta → broadcast-static join → alias projection →
distinct → segment anti-joins) preserves that partitioning, every iteration
plans with ZERO shuffle exchanges — the declarative replay of the
reference's pivoted fixpoint scheduling (GeneralizedPivotSetInfo.scala:
30-170, RecursionBase.scala:53-69 outputPartitioning)."""

import random
import re

import pytest

from bigdatalog_spark import BigDatalogContext
from bigdatalog_spark.datalog import fixpoint as fp
from bigdatalog_spark.datalog.context import EngineConfig

TC = (
    "database({arc(From:integer, To:integer)})."
    "tc(A,B) <- arc(A,B)."
    "tc(A,B) <- tc(A,C), arc(C,B)."
)


def _edges(seed, n_nodes=300, n_edges=600):
    rng = random.Random(seed)
    return {(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)}


def _ctx(spark, program, arcs, **cfg):
    ctx = BigDatalogContext(spark, EngineConfig(**cfg))
    ctx.load_program(program)
    ctx.register_data("arc", [f"{a},{b}" for e in [arcs] for a, b in e])
    return ctx


@pytest.fixture
def capture_anti_plans(monkeypatch):
    """Record each iteration's Δ' plan string at build time (inside the
    loop's conf scope, so the captured physical plan is the executed one)."""
    plans = []
    orig = fp._SegmentedSet.anti

    def spy(self, cand):
        out = orig(self, cand)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(fp._SegmentedSet, "anti", spy)
    return plans


def _exchanges(plan: str):
    return re.findall(r"Exchange hashpartitioning", plan)


def test_distributed_tc_iterations_are_exchange_free(spark, capture_anti_plans):
    edges = _edges(7)
    ctx = _ctx(spark, TC, edges, decomposable_local=False)
    n = ctx.query("tc(A,B).").count()
    assert len(capture_anti_plans) > 3, "expected a multi-iteration fixpoint"
    per_iter = [len(_exchanges(p)) for p in capture_anti_plans]
    assert sum(per_iter) == 0, f"per-iteration shuffle exchanges: {per_iter}"
    # and the answers match the local decomposable path
    ctx2 = _ctx(spark, TC, edges)
    assert n == ctx2.query("tc(A,B).").count()


def test_broken_chain_still_correct(spark, capture_anti_plans):
    """Two recursive rules union their variants — the chain does NOT
    preserve the pivot partitioning, the probe must decline pivot mode,
    and results must still be exact."""
    prog = (
        "database({arc(From:integer, To:integer)})."
        "tc(A,B) <- arc(A,B)."
        "tc(A,B) <- tc(A,C), arc(C,B)."
        "tc(A,B) <- tc(A,C), arc(B,C)."  # second variant → union
    )
    edges = _edges(11, n_nodes=60, n_edges=120)
    ctx = _ctx(spark, prog, edges, decomposable_local=False)
    got = {tuple(r) for r in ctx.query("tc(A,B).").collect()}
    # pandas-free reference closure
    arcs = set(edges)
    tc = set(arcs)
    while True:
        new = {(a, b2) for (a, c) in tc for (c2, b2) in arcs if c == c2}
        new |= {(a, b2) for (a, c) in tc for (b2, c2) in arcs if c == c2}
        if new <= tc:
            break
        tc |= new
    assert got == tc


def test_pivot_probe_rejects_non_preserving_chain(spark):
    """The physical-plan probe itself: a chain through a broadcast join
    preserves pivot hash partitioning; an exchanged (sort-merge) join
    does not."""
    from pyspark.sql import functions as F

    arc = spark.createDataFrame([(0, 1), (1, 2)], "c0: int, c1: int")
    with fp._aqe_off(spark):
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        pp = arc.repartition(n, "c0")
        good = (
            pp.alias("d")
            .join(F.broadcast(arc).alias("s"), F.col("d.c1") == F.col("s.c0"))
            .select(F.col("d.c0").alias("c0"), F.col("s.c1").alias("c1"))
        )
        assert fp._plan_partitioned_on(good.distinct(), ["c0"], n)
        bad = (
            pp.alias("d")
            .join(arc.hint("merge").alias("s"), F.col("d.c1") == F.col("s.c0"))
            .select(F.col("d.c0").alias("c0"), F.col("s.c1").alias("c1"))
        )
        assert not fp._plan_partitioned_on(bad.distinct(), ["c0"], n)


def test_compound_pivot_distributed_exchange_free(spark, capture_anti_plans):
    """3-ary labeled reachability: the head copies BOTH the source and the
    label from the recursive atom — a compound (2-column) pivot
    (GeneralizedPivotSetInfo.scala compound pivot sets). The distributed
    loop must detect it, store S partitioned on (c0, c1), and iterate
    exchange-free; results must match the local decomposable path."""
    prog = (
        "database({edge(From:integer, Lab:integer, To:integer)})."
        "path(A,L,B) <- edge(A,L,B)."
        "path(A,L,B) <- path(A,L,C), edge(C,L,B)."
    )
    rng = random.Random(13)
    rows = {
        (rng.randrange(80), rng.randrange(3), rng.randrange(80))
        for _ in range(240)
    }
    lines = [f"{a},{l},{b}" for a, l, b in rows]

    ctx = BigDatalogContext(spark, EngineConfig(decomposable_local=False))
    ctx.load_program(prog)
    ctx.register_data("edge", lines)
    got = {tuple(r) for r in ctx.query("path(A,L,B).").collect()}

    per_iter = [len(_exchanges(p)) for p in capture_anti_plans]
    assert len(per_iter) > 2
    assert sum(per_iter) == 0, f"per-iteration shuffle exchanges: {per_iter}"

    ctx2 = BigDatalogContext(spark)
    ctx2.load_program(prog)
    ctx2.register_data("edge", lines)
    assert got == {tuple(r) for r in ctx2.query("path(A,L,B).").collect()}


MUTUAL_PIVOTED = (
    "database({arc(From:integer, To:integer)})."
    "even(X,X) <- arc(X,Y)."
    "odd(S,Y) <- even(S,X), arc(X,Y)."
    "even(S,Y) <- odd(S,X), arc(X,Y)."
)


def test_mutual_pivoted_iterations_are_exchange_free(spark, capture_anti_plans):
    """Clique-stable pivots for MUTUAL recursion
    (GeneralizedPivotSetInfo.scala:30-170 across predicates): the carried
    source column is copied verbatim on every even<->odd hop, so BOTH
    stores partition on it and every iteration of the combined fixpoint
    plans with zero shuffle exchanges."""
    tree = [(i, 2 * i) for i in range(1, 128)] + [
        (i, 2 * i + 1) for i in range(1, 128)
    ]
    ctx = _ctx(spark, MUTUAL_PIVOTED, set(tree), decomposable_local=False)
    got = {tuple(r) for r in ctx.query("even(S,X).").collect()}
    assert len(capture_anti_plans) > 5, "expected a multi-iteration fixpoint"
    per_iter = [len(_exchanges(p)) for p in capture_anti_plans]
    assert sum(per_iter) == 0, f"per-iteration shuffle exchanges: {per_iter}"
    # python reference: per-source even-hop reachability
    from collections import defaultdict

    adj = defaultdict(list)
    for a, b in tree:
        adj[a].append(b)
    ref = set()
    for s in {a for a, _ in tree}:
        even, odd, fe, fo = {s}, set(), {s}, set()
        while True:
            no = {y for x in fe for y in adj.get(x, [])} - odd
            ne = {y for x in fo for y in adj.get(x, [])} - even
            if not no and not ne:
                break
            odd |= no
            even |= ne
            fe, fo = ne, no
        ref |= {(s, x) for x in even}
    assert got == ref


def test_unpivoted_mutual_single_exchange_per_iteration(spark, capture_anti_plans):
    """The unary even/odd clique has NO stable pivot (the vertex value
    changes every hop), so the optimum is ONE exchange per iteration —
    the candidate re-partition onto the store layout; the delta->static
    join itself must stay exchange-free. Pinned so a regression that
    reintroduces S-side or per-branch shuffles is caught.

    Adjudicated (round 6) against 'default first-column pivots would make
    this exchange-free': the reference's default for pivot-less recursive
    relations IS first-argument hash partitioning
    (LogicalPlanGenerator.scala getDefaultPartitioning — 'partition on
    the first argument'), which is exactly the layout our store uses; a
    derivation here MOVES the tuple to a different first-column value, so
    the reference's SetRDD insert pays the same one shuffle per iteration
    to route candidates home. Zero-exchange is only achievable when the
    clique has a stable pivot, which the pivoted-mutual test above
    asserts we already exploit."""
    prog = (
        "database({arc(From:integer, To:integer)})."
        "even(X) <- X = 1."
        "odd(Y) <- even(X), arc(X,Y)."
        "even(Y) <- odd(X), arc(X,Y)."
    )
    tree = [(i, 2 * i) for i in range(1, 128)] + [
        (i, 2 * i + 1) for i in range(1, 128)
    ]
    ctx = _ctx(spark, prog, set(tree), decomposable_local=False)
    n = ctx.query("even(X).").count()
    assert n > 0
    per_iter = [len(_exchanges(p)) for p in capture_anti_plans]
    assert per_iter and max(per_iter) <= 1, f"exchanges/iter: {per_iter}"


def test_nonlinear_segment_joins_single_exchange_per_iteration(
    spark, capture_anti_plans
):
    """Non-linear TC through the segment-distributed S-join: both sides of
    every Δ ⋈ S branch are served from stored layouts (partitioned +
    sorted on the join columns), so the only exchange per iteration is the
    candidate distinct — per-iteration shuffle volume is O(|Δ|+|cand|),
    never O(|S|). Before segment-distributed joins this planned 2 full
    re-shuffles of the accumulated closure per iteration."""
    prog = (
        "database({arc(From:integer, To:integer)})."
        "tc(A,B) <- arc(A,B)."
        "tc(A,B) <- tc(A,C), tc(C,B)."
    )
    edges = _edges(7)
    ctx = _ctx(spark, prog, edges, decomposable_local=False)
    got = {tuple(r) for r in ctx.query("tc(A,B).").collect()}
    per_iter = [len(_exchanges(p)) for p in capture_anti_plans]
    assert len(per_iter) >= 3
    assert max(per_iter) <= 1, f"exchanges/iter: {per_iter}"
    # reference closure, joined through a successor index (a pairwise scan
    # of tc x tc is quadratic in the closure: minutes on this graph)
    tc = set(edges)
    while True:
        succ = {}
        for c, d in tc:
            succ.setdefault(c, set()).add(d)
        new = {(a, d) for (a, b) in tc for d in succ.get(b, ())} - tc
        if not new:
            break
        tc |= new
    assert got == tc


def test_nonlinear_segment_joins_match_legacy_view(spark, monkeypatch):
    """Kill-switch parity: with join_segments disabled the step falls back
    to the legacy S-view join; results must be identical."""
    prog = (
        "database({arc(From:integer, To:integer)})."
        "tc(A,B) <- arc(A,B)."
        "tc(A,B) <- tc(A,C), tc(C,B)."
    )
    edges = _edges(13, n_nodes=80, n_edges=160)
    ctx = _ctx(spark, prog, edges, decomposable_local=False)
    with_segments = {tuple(r) for r in ctx.query("tc(A,B).").collect()}
    monkeypatch.setattr(
        fp._SegmentViews, "join_segments", lambda self, p, c: None
    )
    ctx2 = _ctx(spark, prog, edges, decomposable_local=False)
    legacy = {tuple(r) for r in ctx2.query("tc(A,B).").collect()}
    assert with_segments == legacy
