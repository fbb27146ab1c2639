"""Driver-tier local fixpoints (datalog/local_eval.py driver_* functions).

A local fixpoint whose task count would be exactly one — non-linear
cliques (slicing unsound), mixed cliques (global thresholds), single-tuple
seeds — runs the identical pandas PSN loop on the driver: the seeds and
statics are already driver-resident for broadcasting, so the job launch,
broadcast, and Arrow roundtrip are pure overhead (the reference pays the
same costs nowhere — its FixedPointResultTask runs once per job,
FixedPointResultTask.scala:44-106). Exit-rule seeds likewise evaluate in
pandas when their statics pass the same byte gate (_driver_exit_pdf).
These tests pin (a) equivalence against the in-task and distributed
paths, (b) the engagement conditions, and (c) the growth-abort fallback.
"""

import pytest

from bigdatalog_spark.datalog import context as ctx_mod
from bigdatalog_spark import BigDatalogContext
from bigdatalog_spark.datalog.context import EngineConfig

NL_TC = (
    "database({arc(From:integer, To:integer)})."
    "tc(A,B) <- arc(A,B)."
    "tc(A,B) <- tc(A,C), tc(C,B)."
)
MUTUAL = (
    "database({arc(From:integer, To:integer)})."
    "even(X) <- X = 0."
    "odd(Y) <- even(X), arc(X,Y)."
    "even(Y) <- odd(X), arc(X,Y)."
)
MCOUNT = (
    "database({follows(A:integer, B:integer)})."
    "cnt(Y,mcount<X>) <- follows(X,Y)."
    "popular(Y) <- cnt(Y,N), N >= 2."
    "cnt(Z,mcount<Y>) <- popular(Y), follows(Y,Z)."
)
SSSP = (
    "database({edge(From:integer, To:integer, W:integer)})."
    "sp(X,mmin<D>) <- X = 0, D = 0."
    "sp(Y,mmin<D2>) <- sp(X,D), edge(X,Y,W), D2 = D + W."
)

CHAIN = [f"{i},{i + 1}" for i in range(30)]
EDGES = ["0,1,5", "1,2,2", "0,2,9", "2,3,1", "0,3,20"]
FOLLOWS = ["1,3", "2,3", "1,4", "3,5", "3,6"]


def _rows(spark, prog, data, goal, **cfg):
    ctx = BigDatalogContext(spark, EngineConfig(**cfg))
    ctx.load_program(prog)
    for name, lines in data.items():
        ctx.register_data(name, lines)
    return sorted(tuple(r) for r in ctx.query(goal).collect())


def _spy(monkeypatch, name):
    """Record invocations of a driver_* entry point as seen by context.py."""
    calls = []
    orig = getattr(ctx_mod, name)

    def wrapper(*a, **k):
        out = orig(*a, **k)
        calls.append(out is not None)
        return out

    monkeypatch.setattr(ctx_mod, name, wrapper)
    return calls


@pytest.mark.parametrize(
    "prog,data,goal",
    [
        (NL_TC, {"arc": CHAIN}, "tc(A,B)."),
        (MUTUAL, {"arc": CHAIN}, "even(X)."),
        (MCOUNT, {"follows": FOLLOWS}, "cnt(Y,N)."),
        (SSSP, {"edge": EDGES}, "sp(X,D)."),
    ],
)
def test_driver_tier_matches_task_and_distributed(spark, prog, data, goal):
    driver = _rows(spark, prog, data, goal)
    in_task = _rows(spark, prog, data, goal, driver_local=False)
    dist = _rows(spark, prog, data, goal, decomposable_local=False)
    assert driver == in_task == dist and len(driver) > 0


def test_driver_tier_engages_for_nonlinear(spark, monkeypatch):
    calls = _spy(monkeypatch, "driver_seminaive")
    assert len(_rows(spark, NL_TC, {"arc": CHAIN}, "tc(A,B).")) == 465
    assert calls == [True]


def test_driver_tier_respects_nonlinear_seed_gate(spark, monkeypatch):
    # seed (30 arcs) above the gate → in-task path, same answer
    calls = _spy(monkeypatch, "driver_seminaive")
    rows = _rows(
        spark, NL_TC, {"arc": CHAIN}, "tc(A,B).", driver_seed_max_rows=10
    )
    assert len(rows) == 465 and calls == []


def test_driver_tier_growth_abort_falls_back_to_distributed(spark, monkeypatch):
    # a growth budget the 465-row closure must exceed: the driver loop
    # aborts and the clique reruns on the distributed fixpoint, correctly
    calls = _spy(monkeypatch, "driver_seminaive")
    rows = _rows(
        spark,
        NL_TC,
        {"arc": CHAIN},
        "tc(A,B).",
        local_growth_factor=1,
        local_growth_floor=64,
    )
    assert len(rows) == 465
    assert calls == [False]  # engaged, aborted (returned None)


def test_mixed_driver_tier_engages_and_matches(spark, monkeypatch):
    calls = _spy(monkeypatch, "driver_mixed")
    driver = _rows(spark, MCOUNT, {"follows": FOLLOWS}, "cnt(Y,N).")
    assert calls == [True]
    assert driver == _rows(
        spark, MCOUNT, {"follows": FOLLOWS}, "cnt(Y,N).", driver_local=False
    )


def test_monotonic_stays_in_task(spark, monkeypatch):
    # DELIBERATE non-engagement: a monotonic fixpoint's result is
    # key-space-sized regardless of seed size (one row per reachable
    # vertex for SSSP), so the driver tier's result materialization would
    # cost more than the job it saves — the in-task loop serves it
    sem = _spy(monkeypatch, "driver_seminaive")
    mix = _spy(monkeypatch, "driver_mixed")
    driver = _rows(spark, SSSP, {"edge": EDGES}, "sp(X,D).")
    assert sem == [] and mix == []
    assert driver == [(0, 0), (1, 5), (2, 7), (3, 8)]


def test_exit_seed_evaluates_in_pandas(spark, monkeypatch):
    # exit rules with a static atom, a comparison filter, and arithmetic in
    # the head all evaluate driver-side — pin against the fetch-job path
    prog = (
        "database({v(X:integer)})."
        "r(X,Y) <- v(X), X > 1, Y = X * 2."
        "r(Z,Y) <- r(X,Z), Y = Z + 1, Y < 9."
    )
    fetched = []
    orig = ctx_mod.BigDatalogContext._driver_exit_pdf

    def spy(self, rules, seed, **kw):
        out = orig(self, rules, seed, **kw)
        fetched.append(out is not None)
        return out

    monkeypatch.setattr(ctx_mod.BigDatalogContext, "_driver_exit_pdf", spy)
    rows = _rows(spark, prog, {"v": ["1", "2", "3"]}, "r(X,Y).")
    assert rows == [(2, 4), (3, 6), (4, 5), (5, 6), (6, 7), (7, 8)]
    assert True in fetched  # at least the recursive pred's seed came free


def test_exit_seed_respects_bound_filter(spark):
    # bound-goal seed restriction must apply identically on the pandas path
    tc = (
        "database({arc(From:integer, To:integer)})."
        "tc(A,B) <- arc(A,B)."
        "tc(A,B) <- tc(A,C), arc(C,B)."
    )
    bound = _rows(spark, tc, {"arc": CHAIN}, "tc(3,B).")
    assert bound == [(3, i) for i in range(4, 31)]
    assert bound == _rows(
        spark, tc, {"arc": CHAIN}, "tc(3,B).", driver_local=False
    )


def test_exit_seed_duplicate_contributions_match_spark_semantics(spark):
    # two exit rules deriving the SAME contribution row: the Spark pipeline
    # dedups mixed seeds (the loop keeps distinct support sets) — the
    # pandas path must agree, not double-count
    prog = (
        "database({s(A:integer, V:integer), t(A:integer, V:integer)})."
        "tot(A,msum<V>) <- s(A,V)."
        "tot(A,msum<V>) <- t(A,V)."
    )
    data = {"s": ["1,10", "2,5"], "t": ["1,10", "2,7"]}
    driver = _rows(spark, prog, data, "tot(A,V).")
    assert driver == _rows(spark, prog, data, "tot(A,V).", driver_local=False)


def test_statics_memo_ephemeral_entries_capped(spark):
    """Driver-tier RESULT frames pre-seed the statics memo (3-tuple,
    ephemeral) and are FIFO-capped, while static 2-tuple entries persist
    for the program: a long-lived context serving many distinct bound
    goals must not pin an unbounded set of pandas results on the driver."""
    from bigdatalog_spark.datalog.local_eval import _EPHEMERAL_CAP

    ctx = BigDatalogContext(spark)
    ctx.load_program(NL_TC)
    ctx.register_data("arc", [f"{i},{i + 1}" for i in range(40)])
    for k in range(_EPHEMERAL_CAP + 8):
        got = sorted(r[1] for r in ctx.query(f"tc({k},B).").collect())
        assert got == list(range(k + 1, 41))
    eph = [v for v in ctx._statics_pd.values() if len(v) > 2]
    assert len(eph) <= _EPHEMERAL_CAP


# ------------------------------------------------- null-bearing parity
# (VERDICT r07 #7) The pandas tiers and the distributed null-safe anti
# must agree on null-bearing cliques — including the two corners where
# they historically could diverge: (a) a NULL pass-through column whose
# tuple is re-derived over a cycle (set semantics: null-safe dedup), and
# (b) a NULL that lands in a JOIN key (pandas merge matches NaN==NaN,
# Spark `=` never does — local_eval now drops null-keyed rows to match).

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import types as T

NPROP = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

N_EDGES = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 4)),
    min_size=1, max_size=10, unique=True,
)
N_LABELS = st.lists(
    st.tuples(st.integers(0, 4), st.one_of(st.none(), st.integers(0, 2))),
    min_size=1, max_size=6, unique=True,
)

PROG_LAB = (
    "database({arc(S:long, D:long), lab(Y:long, W:long)})."
    "p(X, W) <- lab(X, W)."
    "p(Y, W) <- p(X, W), arc(X, Y)."
)
PROG_KEY = (
    "database({arc(S:long, D:long), q(Y:long, W:long)})."
    "p(X, W) <- arc(X, Y), q(Y, W)."
    "p(X, W) <- p(X, Y), q(Y, W)."
)

_NSCHEMA = T.StructType(
    [
        T.StructField("y", T.LongType(), True),
        T.StructField("w", T.LongType(), True),
    ]
)


def _rows_df(spark, prog, data, goal, **cfg):
    ctx = BigDatalogContext(spark, EngineConfig(**cfg))
    ctx.load_program(prog)
    for name, df in data.items():
        ctx.register(name, df)
    out = [
        tuple(None if c is None else int(c) for c in r)
        for r in ctx.query(goal).collect()
    ]
    key = lambda t: tuple((c is not None, c if c is not None else 0) for c in t)
    return sorted(out, key=key)


def _three_way(spark, prog, data, goal):
    driver = _rows_df(spark, prog, data, goal)
    in_task = _rows_df(spark, prog, data, goal, driver_local=False)
    dist = _rows_df(
        spark, prog, data, goal,
        decomposable_local=False, driver_local=False, local_seed_max_rows=0,
    )
    assert driver == in_task == dist
    assert len(driver) == len(set(driver))  # set semantics, null-safe
    return driver


@NPROP
@given(edges=N_EDGES, labels=N_LABELS)
def test_null_passthrough_parity(spark, edges, labels):
    data = {
        "arc": spark.createDataFrame(edges, ["s", "d"]),
        "lab": spark.createDataFrame(labels, _NSCHEMA),
    }
    got = _three_way(spark, PROG_LAB, data, "p(A,B).")
    # python oracle: label w (None included) propagates to all reachable
    reach = {n: {n} for n in range(5)}
    changed = True
    while changed:
        changed = False
        for s, d in edges:
            for r in list(reach[s]):
                if r not in reach.get(d, set()):
                    reach.setdefault(d, set()).add(r)
                    changed = True
    want = {(n, w) for (y, w) in labels for n in range(5) if y in reach[n]}
    assert set(got) == want


@NPROP
@given(edges=N_EDGES, labels=N_LABELS)
def test_null_join_key_parity(spark, edges, labels):
    """q's FIRST column (a join key in both rules) may be NULL: a null key
    must match nothing on every tier (SQL `=` semantics)."""
    data = {
        "arc": spark.createDataFrame(edges, ["s", "d"]),
        "q": spark.createDataFrame(labels, _NSCHEMA),
    }
    got = _three_way(spark, PROG_KEY, data, "p(A,B).")
    q = set(labels)
    p = {
        (x, w)
        for (x, y) in edges
        for (qy, w) in q
        if y is not None and qy is not None and y == qy
    }
    changed = True
    while changed:
        new = {
            (x, w)
            for (x, y) in p
            for (qy, w) in q
            if y is not None and qy is not None and y == qy
        } - p
        changed = bool(new)
        p |= new
    assert set(got) == p


# ---------------------------------------------------------------- r09:
# null-bearing MONOTONIC fixpoints: three-way tier parity + termination.
# Contract (PLANS.md "Null semantics for monotonic/mixed fixpoints"):
# a NULL group key is a regular group (Spark groupBy); mmin/mmax skip NULL
# contributions, so a stored NULL is improved by any real value; a group
# whose only contributions are NULL carries NULL and reports ONCE —
# NULL vs NULL is not a change (fixpoint._merge_monotonic eqNullSafe;
# local_eval._merge_monotonic_pd mirrors it).

_NULL_MONO_PROG = (
    "database({lab(X:integer, V:integer), e(S:integer, D:integer)})."
    "m(X, mmin<V>) <- lab(X, V)."
    "m(Y, mmin<V>) <- m(X, V), e(X, Y)."
)


def _null_mono_rows(spark, cfg, lab_rows, e_rows):
    ctx = BigDatalogContext(spark, cfg)
    ctx.load_program(_NULL_MONO_PROG)
    ctx.register("lab", spark.createDataFrame(lab_rows, "x int, v int"))
    ctx.register("e", spark.createDataFrame(e_rows, "s int, d int"))
    return sorted((tuple(r) for r in ctx.query("m(X, V).").collect()), key=str)


_TIER_CONFIGS = [
    EngineConfig(),
    EngineConfig(decomposable_local=False),
    EngineConfig(driver_local=False),
]


def test_null_monotonic_three_way_tier_parity(spark):
    """NULL labels + a NULL group key through every tier: the pandas loops
    must agree with the distributed eqNullSafe contract."""
    lab = [(0, 7), (0, None), (1, None), (None, 5), (2, 9)]
    e = [(0, 1), (1, 2), (2, 1)]
    got = [_null_mono_rows(spark, c, lab, e) for c in _TIER_CONFIGS]
    assert got[0] == got[1] == got[2]
    assert got[0] == [(0, 7), (1, 7), (2, 7), (None, 5)]


def test_null_only_cycle_monotonic_terminates(spark):
    """The r09 hang shape: a cycle whose ONLY labels are NULL. The old
    `oldv.isna()` improvement test re-reported NULL->NULL forever (in-task
    infinite loop, crashed python workers); the null-safe merge reports
    each NULL-valued group once and converges on every tier."""
    import signal

    def alarm(s, f):  # pragma: no cover - fires only on regression
        raise TimeoutError("null-only monotonic cycle did not converge")

    old = signal.signal(signal.SIGALRM, alarm)
    signal.alarm(180)
    try:
        lab = [(1, None)]
        e = [(1, 2), (2, 1)]
        got = [_null_mono_rows(spark, c, lab, e) for c in _TIER_CONFIGS]
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    assert got[0] == got[1] == got[2] == [(1, None), (2, None)]


def test_null_msum_all_null_group_parity(spark):
    """msum over a group whose contributions are all NULL: Spark SUM yields
    NULL; pandas sum must use min_count=1 to match (not 0)."""
    prog = (
        "database({src(X:integer, V:integer), hop(S:integer, D:integer)})."
        "t(X, msum<V>) <- src(X, V)."
        "t(Y, msum<V>) <- t(X, V), hop(X, Y)."
    )
    rows = {}
    for name, cfg in [("local", EngineConfig()),
                      ("dist", EngineConfig(decomposable_local=False))]:
        c = BigDatalogContext(spark, cfg)
        c.load_program(prog)
        c.register("src", spark.createDataFrame([(0, None)], "x int, v int"))
        c.register("hop", spark.createDataFrame([(0, 1)], "s int, d int"))
        rows[name] = sorted(
            (tuple(r) for r in c.query("t(X, V).").collect()), key=str
        )
    assert rows["local"] == rows["dist"]


NM_LABELS = st.lists(
    st.tuples(st.integers(0, 4), st.one_of(st.none(), st.integers(0, 9))),
    min_size=1, max_size=8,
)
NM_EDGES = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 4)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=0, max_size=10, unique=True,
)


@NPROP
@given(lab=NM_LABELS, e=NM_EDGES)
def test_null_monotonic_local_matches_distributed(spark, lab, e):
    """Property: random null-bearing label graphs (cycles allowed) — local
    pandas tier == distributed eqNullSafe tier, and both match the python
    label-propagation model."""
    local = _null_mono_rows(spark, EngineConfig(), lab, e)
    dist = _null_mono_rows(
        spark, EngineConfig(decomposable_local=False), lab, e
    )
    assert local == dist
    # python model: min label (None = missing) propagated along edges;
    # a vertex reachable only from NULL-labeled vertices carries None
    INF = 1 << 30
    best = {}
    for x, v in lab:
        cur = best.get(x, INF)
        best[x] = min(cur, INF if v is None else v)
    changed = True
    while changed:
        changed = False
        for s, d in e:
            if s in best:
                nv = best[s]
                if best.get(d, INF + 1) > nv or (d not in best):
                    if best.get(d) != nv and best.get(d, INF + 1) > nv:
                        best[d] = nv
                        changed = True
    want = sorted(
        ((k, None if v == INF else v) for k, v in best.items()), key=str
    )
    assert local == want


# ------------------------------------------------------- one-task rule
# A set-semantics local fixpoint runs on the driver exactly when the
# in-task tier would schedule ONE task for its seed: pivot mode sizes
# 32 KiB of seed per task, slices ~64 seeds per task, non-linear cliques
# always one. A bound goal's few-row seed therefore launches no fixpoint
# job at all.

TC = (
    "database({arc(From:integer, To:integer)})."
    "tc(A,B) <- arc(A,B)."
    "tc(A,B) <- tc(A,C), arc(C,B)."
)
MUTUAL_SRC = (
    "database({arc(From:integer, To:integer), src(N:integer)})."
    "even(X) <- src(X)."
    "odd(Y) <- even(X), arc(X,Y)."
    "even(Y) <- odd(X), arc(X,Y)."
)
# two chains and a shortcut, so forward and reverse slices differ
TREEISH = CHAIN + ["40,41", "41,42", "3,40", "42,7"]


@pytest.mark.parametrize(
    "prog,data,goal",
    [
        (TC, {"arc": TREEISH}, "tc(3,B)."),  # pivot mode, bound pivot
        (TC, {"arc": TREEISH}, "tc(A,8)."),  # magic-set path
        (MUTUAL_SRC, {"arc": CHAIN, "src": ["0", "5", "11"]}, "odd(X)."),
    ],
    ids=["tc_forward", "tc_reverse", "mutual_small_seed"],
)
def test_one_task_route_three_way_parity(spark, monkeypatch, prog, data, goal):
    calls = _spy(monkeypatch, "driver_seminaive")
    driver = _rows(spark, prog, data, goal)
    assert calls and all(calls)  # every clique of the goal ran driver-side
    in_task = _rows(spark, prog, data, goal, driver_local=False)
    dist = _rows(spark, prog, data, goal, decomposable_local=False)
    assert driver == in_task == dist and len(driver) > 0


def test_pivot_seed_over_one_task_stays_in_task(spark, monkeypatch):
    # tc(A,600) on a 600-arc star (i -> 600) demands every arc: a 600-row
    # pivot seed is 600 * 64 B > 32 KiB, two pivot tasks, so the in-task
    # tier serves the guarded clique (only the 1-row magic demand clique is
    # driver-side). A star, not a chain: the same seed in two iterations
    drv = _spy(monkeypatch, "driver_seminaive")
    task = _spy(monkeypatch, "local_seminaive_fixpoint")
    ctx = BigDatalogContext(spark)
    ctx.load_program(TC)
    ctx.register_data("arc", [f"{i},600" for i in range(600)])
    got = sorted(r[0] for r in ctx.query("tc(A,600).").collect())
    assert got == list(range(600))
    assert drv == [True] and task == [True]


def test_pivot_seed_fetch_stops_at_two_tasks(spark, monkeypatch):
    # an exit the pandas evaluator cannot take is fetched; the fetch stops
    # at 513 rows, the first count that makes two pivot tasks (32 KiB at
    # 64 B a row), instead of driver_seed_max_rows + 1
    task = _spy(monkeypatch, "local_seminaive_fixpoint")
    monkeypatch.setattr(
        BigDatalogContext, "_driver_exit_pdf", lambda self, *a, **k: None
    )
    fetched = []
    orig = BigDatalogContext._local_seed_pdf

    def record(self, rules, exit_df, seed, max_rows, **kw):
        pdf = orig(self, rules, exit_df, seed, max_rows, **kw)
        fetched.append((max_rows, len(pdf)))
        return pdf

    monkeypatch.setattr(BigDatalogContext, "_local_seed_pdf", record)
    ctx = BigDatalogContext(spark)
    ctx.load_program(TC)
    ctx.register_data("arc", [f"{i},600" for i in range(600)])
    assert ctx.query("tc(A,B).").count() == 600
    assert fetched == [(512, 513)] and task == [True]


def test_one_task_route_growth_abort_falls_back(spark, monkeypatch):
    # tc(0,B) on the chain derives 30 rows from a 1-row seed: a factor-1,
    # floor-8 budget aborts the driver loop, and the distributed loop
    # answers
    calls = _spy(monkeypatch, "driver_seminaive")
    rows = _rows(
        spark, TC, {"arc": CHAIN}, "tc(0,B).",
        local_growth_factor=1, local_growth_floor=8,
    )
    assert rows == [(0, i) for i in range(1, 31)]
    assert calls == [False]


def test_bound_goal_runs_no_spark_task(spark):
    """With the statics collected by a first goal, ctx.query("tc(c,B).")
    itself schedules no Spark task: seed, loop and result lift all happen
    on the driver (a job-free limit(0) dtype probe may register a job with
    zero tasks). The chain is a Range projection, so Catalyst knows its
    size exactly and the statics byte gate needs no probe job."""
    sc = spark.sparkContext
    ctx = BigDatalogContext(spark)
    ctx.load_program(TC)
    ctx.register(
        "arc",
        spark.range(30).selectExpr(
            "cast(id as int) as a", "cast(id + 1 as int) as b"
        ),
    )
    assert ctx.query("tc(2,B).").count() == 28
    group = "bound-goal-task-count"
    sc.setJobGroup(group, "tc(5,B)")
    try:
        df = ctx.query("tc(5,B).")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            tasks += tracker.getStageInfo(sid).numTasks
    assert tasks == 0
    assert sorted(r[1] for r in df.collect()) == list(range(6, 31))


def test_magic_goal_schema_probe_persists_nothing(spark):
    # the local tiers build the step plan only for its widened schema; on
    # the driver route that plan never runs, so no static may have been
    # persisted or collected into a LocalRelation for it
    ctx = BigDatalogContext(spark)
    ctx.load_program(TC)
    ctx.register_data("arc", TREEISH)
    assert sorted(r[0] for r in ctx.query("tc(A,8).").collect()) == list(
        range(0, 8)
    ) + [40, 41, 42]
    assert ctx._persisted_statics == {} and ctx._collected_statics == {}


def test_schema_probe_nesting_keeps_outer_state(spark):
    # an inner probe must hand the outer one back its plain-statics mode,
    # not switch persistence and broadcast hints back on mid-plan
    ctx = BigDatalogContext(spark)
    seen = []

    def inner():
        seen.append(ctx._plain_statics)

    def outer():
        ctx._schema_probe(inner)
        seen.append(ctx._plain_statics)

    ctx._schema_probe(outer)
    assert seen == [True, True] and ctx._plain_statics is False


def test_statics_broadcast_built_once_per_program(spark):
    # in-task pivot goals over the same statics share ONE broadcast; it is
    # destroyed (and the memo emptied) when the program changes
    ctx = BigDatalogContext(spark, EngineConfig(driver_local=False))
    ctx.load_program(TC)
    ctx.register_data("arc", CHAIN)
    for c in (1, 2, 3):
        got = sorted(r[1] for r in ctx.query(f"tc({c},B).").collect())
        assert got == list(range(c + 1, 31))
    assert len(ctx._statics_bc) == 1 and ctx._broadcasts == []
    ((_, bc),) = ctx._statics_bc.values()
    ctx.load_program("q(X) <- arc(X,Y).")
    assert ctx._statics_bc == {}
    assert not bc._jbroadcast.isValid()  # destroyed, not left to GC


def _merge_monotonic_reference(table, cand, key_cols, value_col, func, cols):
    """The two-merge form of local_eval._merge_monotonic_pd: an indicator
    merge finds the improved groups, an anti-merge drops their stored rows."""
    import pandas as pd

    m = cand.merge(
        table, on=key_cols, how="left", suffixes=("", "__old"), indicator=True
    )
    oldv, newv = m[value_col + "__old"], m[value_col]
    chg = (newv < oldv) if func == "mmin" else (newv > oldv)
    better = (
        (m["_merge"] == "left_only")
        | (oldv.isna() & newv.notna())
        | chg.fillna(False).astype(bool)
    )
    improved = m.loc[better, cols].reset_index(drop=True)
    if not len(improved):
        return table, improved
    anti = table.merge(improved[key_cols], on=key_cols, how="left", indicator=True)
    kept = anti.loc[anti["_merge"] == "left_only", cols]
    return pd.concat([kept, improved], ignore_index=True), improved


def test_merge_monotonic_pd_matches_two_merge_reference():
    """The presence-column merge returns the same table (row order
    included) and the same improved rows as the two-merge form, over
    random tables with NULL keys and NULL values on both sides."""
    import numpy as np
    import pandas as pd

    from bigdatalog_spark.datalog.local_eval import _merge_monotonic_pd

    rng = np.random.default_rng(7)

    def frame():
        keys = rng.choice(30, size=int(rng.integers(0, 30)), replace=False)
        k = keys.astype(float)
        k[rng.random(len(k)) < 0.1] = np.nan
        v = rng.integers(0, 10, size=len(k)).astype(float)
        v[rng.random(len(v)) < 0.3] = np.nan
        return pd.DataFrame({"c0": k, "c1": v}).drop_duplicates("c0")

    for _ in range(100):
        table, cand = frame(), frame()
        for func in ("mmin", "mmax"):
            args = (table, cand, ["c0"], "c1", func, ["c0", "c1"])
            got_t, got_i = _merge_monotonic_pd(*args)
            want_t, want_i = _merge_monotonic_reference(*args)
            pd.testing.assert_frame_equal(
                got_t.reset_index(drop=True), want_t.reset_index(drop=True)
            )
            pd.testing.assert_frame_equal(got_i, want_i)
