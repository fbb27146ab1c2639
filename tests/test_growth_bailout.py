"""In-task growth bailout: the local-eval seed gates bound the SEED, not
the closure, so a small seed over a high-fanout graph can derive a closure
that would OOM the single pandas task. The in-task loops abort past
max(growth_factor · seed, growth_floor) and the context reroutes the
clique to the spill-capable distributed fixpoint — same answers, no task
blow-up."""

import pytest

from bigdatalog_spark import BigDatalogContext
from bigdatalog_spark.datalog.context import EngineConfig

REACH = (
    "database({arc(From:integer, To:integer), src(N:integer)})."
    "reach(X) <- src(X)."
    "reach(Y) <- reach(X), arc(X,Y)."
)

TC = (
    "database({arc(From:integer, To:integer)})."
    "tc(A,B) <- arc(A,B)."
    "tc(A,B) <- tc(A,C), arc(C,B)."
)

SSSP = (
    "database({arc(From:integer, To:integer, W:integer), src(N:integer)})."
    "sp(X, mmin<D>) <- src(X), D = 0."
    "sp(Y, mmin<D>) <- sp(X, D1), arc(X, Y, W), D = D1 + W."
)


def _ctx(spark, program, data, **cfg):
    ctx = BigDatalogContext(spark, EngineConfig(**cfg))
    ctx.load_program(program)
    for name, lines in data.items():
        ctx.register_data(name, lines)
    return ctx


def _star(n):
    """1-row seed, n-leaf fanout: closure is n+1 rows from a 1-row seed."""
    return [f"0,{i}" for i in range(1, n + 1)]


def test_seed_broadcast_bails_to_distributed(spark):
    """Tiny budget (floor 16, factor 2, seed 1 row) on a 400-leaf star:
    the local loop must abort and the distributed path must produce the
    full closure anyway."""
    data = {"arc": _star(400), "src": ["0"]}
    strict = _ctx(
        spark, REACH, data, local_growth_factor=2, local_growth_floor=16
    )
    got = sorted(r[0] for r in strict.query("reach(X).").collect())
    assert got == list(range(401))


def test_seed_broadcast_default_budget_stays_local(spark):
    """The default floor admits the same small-seed/large-closure shape
    locally (single-source reach is the legitimate case the floor
    protects), with identical answers."""
    data = {"arc": _star(400), "src": ["0"]}
    default = _ctx(spark, REACH, data)
    got = sorted(r[0] for r in default.query("reach(X).").collect())
    assert got == list(range(401))


def test_pivot_mode_bails_to_distributed(spark):
    """Pivot-partitioned TC over a 30-node path: closure is ~n²/2 rows
    from an n-row seed; a factor-2/floor-16 budget must trip in-task and
    the distributed loop must still deliver the full closure. (A 30-row
    pivot seed is one task, which the driver tier would take — off here
    so the in-task pivot loop is the one that trips.)"""
    arcs = [f"{i},{i + 1}" for i in range(30)]
    strict = _ctx(
        spark, TC, {"arc": arcs}, local_growth_factor=2, local_growth_floor=16,
        driver_local=False,
    )
    rows = strict.query("tc(A,B).").collect()
    assert len(rows) == 31 * 30 // 2


def test_monotonic_bails_to_distributed(spark):
    """mmin recursion (sssp) with a tripwire budget: keyed table grows to
    n+1 entries from a 1-row seed; answers must come from the distributed
    fallback unchanged."""
    arcs = [f"0,{i},{i}" for i in range(1, 200)]
    strict = _ctx(
        spark,
        SSSP,
        {"arc": arcs, "src": ["0"]},
        local_growth_factor=1,
        local_growth_floor=8,
    )
    got = {(r[0], r[1]) for r in strict.query("sp(X, D).").collect()}
    expect = {(0, 0)} | {(i, i) for i in range(1, 200)}
    assert got == expect
