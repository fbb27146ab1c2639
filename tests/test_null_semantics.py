"""NULL-bearing tuples in fixpoints + seed widening.

NULLs are outside the DeAL data model (the reference's loader cannot
produce them — SURVEY §1.2 'no nulls-by-design'), but register() accepts
any DataFrame, and a rule head projecting a nullable static column puts a
null-bearing tuple into the recursion. The `=`-equality anti-join never
matches such a tuple against the accumulated set, so before the null-mode
fix a re-derived null tuple re-entered the delta every iteration:
duplicate rows in S (set semantics broken), and — for a pass-through
column over a cyclic graph — a fixpoint that only stopped at
max_iterations. Detection rides the convergence count (one job); the
null-safe anti engages per predicate only after a null-bearing row is
actually seen, so the universal null-free path plans unchanged.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatalog_spark import BigDatalogContext
from bigdatalog_spark.datalog.context import EngineConfig
from bigdatalog_spark.datalog.fixpoint import FixpointConfig, fixpoint_mixed
from bigdatalog_spark.datalog.semantics import DatalogSemanticError

PROG = (
    "database({arc(S:long, D:long), q(Y:long, W:long)})."
    "p(X, W) <- arc(X, Y), q(Y, W)."
    "p(X, W) <- p(X, Y), q(Y, W)."
)

# two NULL-producing q rows reachable at different depths: the null tuple
# (0, NULL) is derived at iteration 1 (via y=1) AND re-derived at
# iteration 2 (via y=9) — the second derivation must anti-join away
Q_ROWS = [(5, 1), (1, None), (5, 6), (6, 9), (9, None)]

DISTRIBUTED = dict(
    decomposable_local=False, driver_local=False, local_seed_max_rows=0
)


def _nullable_q(spark):
    schema = T.StructType(
        [
            T.StructField("y", T.LongType(), False),
            T.StructField("w", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(Q_ROWS, schema)


def _run(spark, prog, arc_rows, q_df, goal, **cfg):
    ctx = BigDatalogContext(spark, EngineConfig(**cfg))
    ctx.load_program(prog)
    ctx.register("arc", spark.createDataFrame(arc_rows, ["s", "d"]))
    ctx.register("q", q_df)
    return [tuple(r) for r in ctx.query(goal).collect()]


def _key(t):
    return tuple((-1 if c is None else c) for c in t)


def test_null_tuple_set_semantics_segmented(spark):
    rows = _run(spark, PROG, [(0, 5)], _nullable_q(spark), "p(A,B).", **DISTRIBUTED)
    assert len(rows) == len(set(rows)) == 4
    assert sorted(rows, key=_key) == [(0, None), (0, 1), (0, 6), (0, 9)]


def test_null_tuple_set_semantics_legacy_loop(spark):
    """The union-based S ∪ Δ set loop (formerly the standalone legacy
    seminaive loop, now fixpoint_mixed's set-predicate branch) keeps set
    semantics through its own null-safe anti: the null tuple (0, NULL) is
    derived at iteration 1 and re-derived at iteration 2."""
    q = _nullable_q(spark).alias("q")
    # the exit rule's answer over arc = [(0, 5)]
    seed = spark.createDataFrame([(0, 1), (0, 6)], "x long, w long")

    def step(all_dfs, delta_dfs):
        d = delta_dfs["p"].alias("d")
        return {
            "p": d.join(q, F.col("d.w") == F.col("q.y")).select(
                F.col("d.x").alias("x"), F.col("q.w").alias("w")
            )
        }

    out = fixpoint_mixed({"p": seed}, step, {})
    rows = [tuple(r) for r in out["p"].collect()]
    assert len(rows) == len(set(rows)) == 4
    assert sorted(rows, key=_key) == [(0, None), (0, 1), (0, 6), (0, 9)]


def test_null_passthrough_cycle_converges(spark):
    """Pass-through NULL column over a 2-cycle: (0,NULL) and (1,NULL)
    re-derive each other forever under `=` anti-join — the fixpoint only
    stopped at max_iterations. Must converge to exactly the two tuples."""
    schema = T.StructType(
        [
            T.StructField("y", T.LongType(), False),
            T.StructField("w", T.LongType(), True),
        ]
    )
    q = spark.createDataFrame([(0, None)], schema)
    prog = (
        "database({arc(S:long, D:long), q(Y:long, W:long)})."
        "p(X, W) <- q(X, W)."
        "p(X, W) <- p(Z, W), arc(Z, X)."
    )
    rows = _run(spark, prog, [(0, 1), (1, 0)], q, "p(A,B).", **DISTRIBUTED)
    assert sorted(rows, key=_key) == [(0, None), (1, None)]


def test_local_paths_already_null_safe(spark):
    """The in-task/driver pandas loops dedup NaN-equal — same 4-row answer."""
    rows = _run(spark, PROG, [(0, 5)], _nullable_q(spark), "p(A,B).")
    assert len(rows) == len(set(rows)) == 4


def test_driver_row_takes_null_path(spark, monkeypatch):
    """The dl_tc_null_labels DRIVER row (null-bearing labels through the
    forced-distributed fixpoint) must actually engage the null-safe anti —
    otherwise the oracle row would be green while exercising only the `=`
    path. Pinned by instrumenting _anti_null_safe and asserting it fires,
    plus null-mode set semantics on the result (no duplicate tuples, null
    labels present)."""
    import __spark_entry__ as entry
    from bigdatalog_spark.datalog import fixpoint as fx

    calls = []
    real = fx._anti_null_safe

    def spy(cand, s, cols):
        calls.append(tuple(cols))
        return real(cand, s, cols)

    monkeypatch.setattr(fx, "_anti_null_safe", spy)
    df = entry.queries()["dl_tc_null_labels"](spark, "/root/testdata/sf0.001")
    rows = [tuple(r) for r in df.collect()]
    assert calls, "null-safe anti never engaged — row is not a null-path pin"
    assert len(rows) == len(set(rows))
    assert any(r[1] is None for r in rows)


def test_widen_decimal_meets():
    """decimal-vs-decimal/integer widens to the EXACT decimal meet (max
    integral digits + max scale), mirroring Spark's promotion; double only
    on >38 overflow or a float/double meet where exactness is already
    gone on one side."""
    from bigdatalog_spark.datalog.fixpoint import _widen

    assert _widen("int", "decimal(12,2)") == "decimal(12,2)"
    assert _widen("decimal(12,2)", "int") == "decimal(12,2)"
    assert _widen("bigint", "decimal(12,2)") == "decimal(22,2)"
    assert _widen("decimal(18,4)", "decimal(10,0)") == "decimal(18,4)"
    assert _widen("decimal(18,4)", "decimal(20,0)") == "decimal(24,4)"
    assert _widen("decimal(38,0)", "decimal(2,1)") == "double"  # 39 > 38
    assert _widen("decimal(18,4)", "double") == "double"
    assert _widen("decimal(18,4)", "float") == "double"
    assert _widen("decimal(18,4)", "decimal(18,4)") == "decimal(18,4)"
    assert _widen("string", "int") == "string"
    with pytest.raises(DatalogSemanticError):
        _widen("date", "timestamp")


def test_widen_decimal_exact_beyond_double(spark):
    """End-to-end: a recursion whose exit and step rules both derive
    decimals at different scales keeps EXACT decimal arithmetic — two
    values that differ below one double ulp (x and x + 1e-4 near 2^53)
    stay distinct tuples instead of collapsing into one."""
    from decimal import Decimal

    from pyspark.sql import types as T

    big = Decimal(9007199254740993)  # 2^53 + 1: not double-representable
    schema1 = T.StructType(
        [
            T.StructField("y", T.LongType(), False),
            T.StructField("w", T.DecimalType(20, 0), False),
        ]
    )
    schema2 = T.StructType(
        [
            T.StructField("y", T.LongType(), False),
            T.StructField("w", T.DecimalType(24, 4), False),
        ]
    )
    # declared `double`, but register() only checks arity — the ACTUAL
    # frame types (decimal 20,0 vs 24,4) drive the fixpoint widening
    prog = (
        "database({e(Y:long, W:double), s(Y:long, W:double)})."
        "p(X, W) <- e(X, W)."
        "p(X, W) <- p(X, _), s(X, W)."
    )
    ctx = BigDatalogContext(spark, EngineConfig(**DISTRIBUTED))
    ctx.load_program(prog)
    ctx.register("e", spark.createDataFrame([(0, big)], schema1))
    ctx.register(
        "s", spark.createDataFrame([(0, big + Decimal("0.0001"))], schema2)
    )
    rows = sorted(tuple(r) for r in ctx.query("p(A,B).").collect())
    # under the old double widening both rows collapse to one tuple
    assert len(rows) == 2
    assert rows[0][1] == big and rows[1][1] == big + Decimal("0.0001")


def test_null_store_beyond_broadcast_gate(spark):
    """Adversarial shape: EVERY tuple is null-bearing, so the null side
    store is the whole set. With the broadcast gate forced to 0 the
    null-safe anti must take the shuffled form and set semantics must
    hold — the degradation path for inputs where 'null rows are rare'
    is false."""
    cfg = FixpointConfig(null_broadcast_max_rows=0)
    ctx = BigDatalogContext(
        spark, EngineConfig(fixpoint=cfg, **DISTRIBUTED)
    )
    ctx.load_program(PROG)
    ctx.register("arc", spark.createDataFrame([(0, 5)], ["s", "d"]))
    q = _nullable_q(spark)
    # make every q row null-bearing: null out the w of the non-null rows
    q = q.selectExpr("y", "CAST(NULL AS LONG) AS w")
    ctx.register("q", q)
    rows = [tuple(r) for r in ctx.query("p(A,B).").collect()]
    assert rows == [(0, None)]


def test_drop_null_keys_nullable_extension_dtype():
    """Pandas nullable extension dtypes (Int64Dtype) report kind 'i' while
    holding pd.NA — _drop_null_keys must still scan them, or a null join
    key NA-matches in merge and the pandas tier diverges from Spark
    (ADVICE r08)."""
    import pandas as pd

    from bigdatalog_spark.datalog.local_eval import _drop_null_keys

    df = pd.DataFrame({"k": pd.array([1, None, 3], dtype="Int64"), "v": [9, 8, 7]})
    out = _drop_null_keys(df, ["k"])
    assert len(out) == 2 and out["k"].notna().all()
    # plain numpy ints stay on the zero-copy path
    plain = pd.DataFrame({"k": [1, 2, 3]})
    assert _drop_null_keys(plain, ["k"]) is plain
