"""Segmented (co-partitioned, SetRDD-style) accumulated-set fixpoint.

Pins (1) result parity between the segmented PSN loop and a pure-Python
transitive closure, (2) the scale property the design exists for: after
segments are sealed, `candidates − S` plans exactly one Exchange and one
Sort — both on the candidate side — regardless of how many segments S
holds (reference parity: SetRDD.scala:111-126 diffs partition-locally
without reshuffling S), (3) that reset() leaves no persistent RDD of a
distributed fixpoint behind.
"""

import pyspark.sql.functions as F
import pytest

from bigdatalog_spark.datalog.fixpoint import (
    FixpointConfig,
    _aqe_off,
    _SegmentedSet,
    fixpoint_seminaive,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a: bigint, b: bigint")


def _tc(spark, pairs, cfg):
    e = _edges(spark, pairs)

    def step(all_dfs, delta_dfs):
        d = delta_dfs["tc"]
        return {
            "tc": d.alias("d").join(
                e.alias("e"), F.col("d.b") == F.col("e.a")
            ).select(F.col("d.a").alias("a"), F.col("e.b").alias("b"))
        }

    return {
        tuple(r) for r in fixpoint_seminaive({"tc": e}, step, cfg)["tc"].collect()
    }


CYCLE = [(i, (i + 1) % 6) for i in range(6)]
CHAIN = [(i, i + 1) for i in range(25)]
DIAMOND = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]


def _python_closure(pairs):
    closure = set(pairs)
    while True:
        grown = closure | {
            (a, d) for a, b in closure for c, d in pairs if b == c
        }
        if grown == closure:
            return closure
        closure = grown


@pytest.mark.parametrize("pairs", [CYCLE, CHAIN, DIAMOND])
def test_segmented_matches_python_closure(spark, pairs):
    seg = _tc(spark, pairs, FixpointConfig(max_segments=3))
    assert seg == _python_closure(pairs) and len(seg) > 0


def test_compaction_triggers_and_preserves(spark):
    # 25-edge chain → 25 iterations → several compactions at max_segments=2
    seg = _tc(spark, CHAIN, FixpointConfig(max_segments=2))
    want = {(i, j) for i in range(26) for j in range(i + 1, 26)}
    assert seg == want


def test_anti_join_plans_without_reshuffling_segments(spark):
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with _aqe_off(spark):
            base = spark.range(0, 2000).select(
                (F.col("id") % 97).alias("a"), (F.col("id") % 89).alias("b")
            )
            cfg = FixpointConfig(max_segments=8)
            sset = _SegmentedSet(base, cfg)
            seg, n = sset.seal_and_count(base.distinct())
            assert n > 0
            sset.append(seg)
            for shift in (1, 2, 3):
                cand = base.select((F.col("a") + shift).alias("a"), "b")
                delta, n = sset.seal_and_count(sset.anti(cand.distinct()))
                assert n > 0
                sset.append(delta)
            # 4 segments in S; the next anti-join must shuffle/sort only cand
            probe = base.select((F.col("a") + 50).alias("a"), "b")
            plan = (
                sset.anti(probe.distinct())
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert plan.count("Exchange") == 1, plan
            assert plan.count("Sort [") == 1, plan
            assert plan.count("SortMergeJoin") == len(sset.segments) == 4, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_aqe_restored_after_fixpoint(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    _tc(spark, DIAMOND, FixpointConfig())
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


@pytest.mark.parametrize(
    "program,goal,lines",
    [
        (
            "database({arc(A:integer, B:integer)})."
            "tc(A,B) <- arc(A,B)."
            "tc(A,B) <- tc(A,C), tc(C,B).",
            "tc(A,B).",
            [f"{i // 2},{i}" for i in range(1, 100)],
        ),
        (
            "database({arc(X:integer, Y:integer)})."
            "cc3(X,mmin<X>) <- arc(X,_)."
            "cc3(Y,mmin<V>) <- cc3(X,V), arc(X,Y).",
            "cc3(X,Y).",
            [f"{i},{i + 1}" for i in range(30)]
            + [f"{i + 1},{i}" for i in range(30)],
        ),
    ],
    ids=["tc_seminaive", "mmin_monotonic"],
)
def test_reset_releases_distributed_fixpoint_blocks(spark, program, goal, lines):
    """A distributed fixpoint query followed by reset() leaves no persistent
    RDD behind: result segments/tables are released by reset(), and the
    loops release superseded tables and empty deltas themselves."""
    from bigdatalog_spark import BigDatalogContext
    from bigdatalog_spark.datalog.context import EngineConfig

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    ctx = BigDatalogContext(
        spark,
        EngineConfig(
            local_seed_max_rows=0, decomposable_local=False, driver_local=False
        ),
    )
    ctx.load_program(program)
    ctx.register_data("arc", lines)
    assert ctx.query(goal).count() > 0
    assert set(jsc.getPersistentRDDs().keySet().toArray()) - before
    ctx.reset()
    assert not set(jsc.getPersistentRDDs().keySet().toArray()) - before


def test_reregister_releases_distributed_results(spark):
    """Re-registering a relation invalidates the memoized results AND
    releases their checkpoint blocks: three rounds of register + a
    forced-distributed query, then reset(), leave no persistent RDD."""
    from bigdatalog_spark import BigDatalogContext
    from bigdatalog_spark.datalog.context import EngineConfig

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    ctx = BigDatalogContext(
        spark,
        EngineConfig(
            local_seed_max_rows=0, decomposable_local=False, driver_local=False
        ),
    )
    ctx.load_program(
        "database({arc(From:integer, To:integer)})."
        "tc(A,B) <- arc(A,B)."
        "tc(A,B) <- tc(A,C), arc(C,B)."
    )
    for n in (8, 10, 12):
        ctx.register_data("arc", [f"{i},{i + 1}" for i in range(n)])
        assert ctx.query("tc(A,B).").count() == (n + 1) * n // 2
    ctx.reset()
    assert not set(jsc.getPersistentRDDs().keySet().toArray()) - before


def test_register_and_load_program_invalidate_held_results(spark):
    """A result query() returned stops being re-executable after the next
    register()/load_program() (its checkpoint blocks are released), unless
    it was register()ed itself: a registered result keeps its blocks
    through later invalidations."""
    from bigdatalog_spark import BigDatalogContext
    from bigdatalog_spark.datalog.context import EngineConfig

    ctx = BigDatalogContext(
        spark,
        EngineConfig(
            local_seed_max_rows=0, decomposable_local=False, driver_local=False
        ),
    )
    ctx.load_program(
        "database({arc(From:integer, To:integer)})."
        "tc(A,B) <- arc(A,B)."
        "tc(A,B) <- tc(A,C), arc(C,B)."
    )
    ctx.register_data("arc", [f"{i},{i + 1}" for i in range(10)])
    kept = ctx.query("tc(A,B).")
    assert kept.count() == 55
    ctx.register("snapshot", kept)
    ctx.load_program("q(X) <- arc(X,Y).")
    assert kept.count() == 55  # registered: blocks kept

    dropped = ctx.query("tc(A,B).")
    assert dropped.count() == 55
    ctx.load_program("r(X) <- arc(Y,X).")
    with pytest.raises(Exception, match="(?i)checkpoint|block"):
        dropped.collect()
    assert kept.count() == 55
    ctx.reset()
