"""BigDatalogContext — the user-facing API.

Mirrors the reference's BigDatalogContext
(/root/reference/datalog/src/main/scala/.../BigDatalogContext.scala:89-173):
``load_program`` (schema + rules), ``register*`` (attach data), ``query``
(goal → DataFrame). The generated DataFrame composes with the whole
PySpark API, like the reference's BigDatalogProgram.toDF()
(BigDatalogProgram.scala:30-41).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ast import (
    AggTerm,
    AnonVar,
    Arith,
    Atom,
    Comparison,
    Const,
    Goal,
    LimitSpec,
    Program,
    Rule,
    SortSpec,
    Var,
)
from .compiler import (
    DatalogCompileError,
    RuleCompiler,
    canon_cols,
    union_all,
)
from .fixpoint import (
    AggSpec,
    FixpointConfig,
    _has_null_expr,
    _plan_is_empty,
    _widen_seed,
    fixpoint_mixed,
    fixpoint_monotonic,
    fixpoint_seminaive,
    release_checkpoint_blocks,
)
from .local_eval import (
    ROW_BYTES,
    _static_pd,
    broadcast_seed_statics,
    driver_exit_seed,
    driver_mixed,
    driver_seminaive,
    local_monotonic_fixpoint,
    local_seminaive_fixpoint,
    pivot_one_task_rows,
    pivot_tasks,
    schema_pd_dtypes,
    seed_broadcast_mixed,
    seed_broadcast_monotonic,
    seed_broadcast_seminaive,
    seed_slices,
)
from .parser import parse_goal, parse_program
from .semantics import AnalyzedProgram, Clique, DatalogSemanticError, analyze

class _MagicLocalAbort(Exception):
    """Control flow, never user-visible: a mixed magic⇄guarded mutual
    clique (non-linear demand transformation) could not be served by the
    local tiers — its distributed form is measured 27× WORSE than the
    unbound closure it replaces (BASELINE.md, r07), so the demand
    transformation must DECLINE (caller answers with the unbound
    fixpoint + goal filter) rather than distribute the transformed
    program. Raised at the distributed-dispatch choke point, caught only
    by _magic_bound_general."""


def _comparison_vars(c: Comparison) -> set[str]:
    out: set[str] = set()

    def walk(t):
        if isinstance(t, Var):
            out.add(t.name)
        elif isinstance(t, Arith):
            walk(t.left)
            walk(t.right)

    walk(c.left)
    walk(c.right)
    return out


_DEAL_TO_SPARK = {
    "byte": T.ByteType(),
    "short": T.ShortType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "datetime": T.DateType(),
}


def spark_schema_for(decl) -> T.StructType:
    """DeAL declared schema → Spark StructType (Utilities.scala:63-83 mapping)."""
    return T.StructType(
        [T.StructField(c, _DEAL_TO_SPARK[t], True) for c, t in decl.columns]
    )


@dataclass
class EngineConfig:
    """Engine knobs, mirroring the reference's spark.datalog.* configs
    (README.md:28-36)."""

    # broadcast the non-recursive side of joins inside recursive rules
    # (spark.datalog.jointype=broadcast default, LogicalPlanGenerator.scala:235-241)
    broadcast_static_side: bool = True
    # re-add .distinct() on unions (spark.datalog.uniondistinct.enabled)
    union_distinct: bool = True
    # static sides estimated above this are persisted, not broadcast
    broadcast_max_bytes: int = 512 << 20
    # TINY statics (at or below this many bytes by Catalyst estimate,
    # re-verified with a bounded collect) are collected ONCE into a
    # JVM-side LocalRelation: the per-iteration broadcast rebuild then
    # happens driver-side with no cache-read job (broadcast exchanges are
    # not reused across the separate actions a fixpoint loop issues).
    # Rows never cross py4j: the collect and the LocalRelation
    # construction stay in the JVM. The gate is deliberately SMALL: the
    # driver-side unsafe-row conversion + hash-relation build is serial
    # and re-runs per iteration, measured at ~6 µs/row/iteration — a 20k-
    # row static embedded this way cost dl_tc_null_labels ~2.3 s/run
    # MORE than the 2-task cached-build job it replaced (interleaved
    # within-session A/B, 6 runs each), while the job it saves is worth
    # ~25 ms. 64 KiB ≈ 2-3k numeric rows keeps the win for literal
    # tables, register_data fixtures and small derived dims, and leaves
    # everything bigger on the persisted/broadcast or pre-shuffled
    # paths. 0 disables.
    local_static_max_bytes: int = 64 << 10
    # decomposable (GPS) cliques run the whole fixpoint partition-locally in
    # one mapInPandas job when the statics pass the broadcast byte gate
    # (GeneralizedPivotSetInfo.scala:30-170 planning, local_eval.py execution)
    decomposable_local: bool = True
    # linear cliques with NO stable pivot (single-source reach/sssp, mutual
    # even/odd, label-prop CC) still run locally when their seed is at most
    # this many rows: seeds are sliced round-robin across tasks and each
    # task runs the full fixpoint (closure(∪seeds) = ∪closure(seed_i) under
    # linearity). Slicing bounds duplicate derivation at slices ×
    # O(statics × diameter), and statics already pass the broadcast byte
    # gate, so the row gate mainly decides where per-iteration *scheduling*
    # overhead beats in-memory evaluation: measured at sf0.1 (20k-row
    # seeds, 15-iteration recursions) local wins 2×; past ~10^5 seed rows
    # the distributed loop's scan throughput wins. Larger seeds go
    # distributed automatically — the probe is bounded (limit k+1).
    # FANOUT GUARD: the gate above bounds SEED rows only, not the closure —
    # a gate-sized seed over a high-fanout static graph can still derive a
    # closure far larger than the seed, and that closure lives in task
    # memory. The in-task loops therefore track their accumulated rows and
    # BAIL OUT past max(growth_factor · seed_rows, growth_floor); the
    # context catches the bailout at build time (local results materialize
    # eagerly) and reruns the clique on the spill-capable distributed
    # fixpoint. The floor keeps legitimate small-seed/large-closure
    # programs (1-row reach seed, |V|-row closure) off the bailout path.
    # Default raised 64Ki -> 128Ki in r10: the reference's tree11 CC
    # (71,390-row contribution seed) declined by a 9% margin and paid the
    # distributed loop at 3x the local tier's cost (15.4 s vs 5.1 s
    # measured); 128Ki sits at the measured ~10^5 local/distributed
    # crossover. The fetch is additionally byte-capped (_seed_gate).
    local_seed_max_rows: int = 1 << 17
    local_growth_factor: int = 64
    local_growth_floor: int = 1 << 22
    # DRIVER TIER: a local fixpoint whose task count would be exactly one
    # runs the identical pandas loop on the driver instead: seeds and
    # statics are already driver-resident, so the job launch, torrent
    # broadcast, and Arrow roundtrip are pure overhead. Set semantics ask
    # the in-task tier's own sizing for the seed's exact row count (pivot:
    # 32 KiB per task; slices: 64 seeds per task; non-linear: one task) —
    # bound goals' few-row seeds land here; mixed cliques (thresholds need
    # global counts) always run one task. Growth bailout and distributed
    # fallback are unchanged. Off = always run in a task.
    driver_local: bool = True
    # Set-semantics seeds above this TOTAL size stay on the in-task path
    # even when both run one task: a whole-base-relation seed (non-linear
    # TC over all of arc) predicts a closure large enough that the
    # driver-side createDataFrame of the result costs more than the job it
    # saves (measured: 247k-row closure ~0.15s worse driver-side; small
    # demand/threshold seeds ~0.5-1.5s better). Mixed cliques are exempt —
    # their aggregate tables stay small by construction.
    driver_seed_max_rows: int = 8192
    # _demand_chain_fallback's driver-BFS fetch gate (rows). The effective
    # gate is additionally capped at broadcast_max_bytes / row-width, so
    # wide (string) vertex types keep the bounded fetch bounded in BYTES,
    # not just rows. 0 forces the distributed reach loop outright;
    # driver_local=False disables the driver BFS as well.
    chain_fetch_max_rows: int = 1 << 22
    fixpoint: FixpointConfig = field(default_factory=FixpointConfig)


class BigDatalogContext:
    def __init__(self, spark: SparkSession, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()
        self.program = Program()
        self._relations: dict[str, DataFrame] = {}
        self._cache: dict[str, DataFrame] = {}
        # (pred, ((pos, const), ...)) -> goal-specific demand-restricted
        # result. Bound-goal fixpoints are deliberately NOT in _cache (they
        # are slices, not the predicate); this memo gives repeated
        # identical bound queries on a long-lived context the same
        # reuse-not-recompute behavior unbound queries get. Same lifetime
        # as _cache (cleared on load_program/reset).
        self._bound_memo: dict[tuple, DataFrame] = {}
        self._persisted_statics: dict[int, DataFrame] = {}
        # (id(df), byte limit) -> (df, _estimated_bytes result) for frames
        # that outlive a goal (registered relations, persisted statics):
        # a bounded row probe runs once per registration, not once per
        # clique of every goal or per fixpoint iteration
        self._size_memo: dict[tuple, tuple] = {}
        # id(jdf) -> LocalRelation copy of a tiny static (see
        # EngineConfig.local_static_max_bytes); False = probed over the
        # gate, don't re-probe
        self._collected_statics: dict[int, DataFrame | bool] = {}
        # (static plan id, join-key positions) -> repartitioned + sorted +
        # persisted copy, built once per query and re-probed every fixpoint
        # iteration (reference ShuffleHashJoin.scala:35-88 build-side reuse)
        self._shuffled_statics: dict[tuple, DataFrame] = {}
        # broadcast variables the local-eval paths shipped (seeds/statics,
        # MBs each) — destroyed on reset() so long sessions don't leak them
        self._broadcasts: list = []
        # id(df) -> (df, pandas) memo for local-eval static collection: a
        # static shared by several cliques (e.g. the base relation of a
        # stratified magic/guarded pair) is fetched from the cluster once
        # per query instead of once per clique; shared with sub-contexts
        self._statics_pd: dict[int, tuple] = {}
        # statics set -> (frames, broadcast) memo for the pivot tiers'
        # statics broadcast (local_eval._collect_statics): one broadcast
        # per program, not one per goal; destroyed by _release_results
        self._statics_bc: dict[tuple, tuple] = {}
        # set while a step plan is built only for its schema
        # (_schema_probe): static sides pass through untouched
        self._plain_statics = False
        self._analyzed: AnalyzedProgram | None = None

    # ------------------------------------------------------------- loading
    def load_program(self, text: str) -> "BigDatalogContext":
        """Parse a DeAL program (database({...}). + rules) and add it to
        the loaded one.

        Loading invalidates every memoized result and releases its
        checkpoint blocks (see _release_results): a frame query() returned
        before this call stops being re-executable — collect it, or
        register() it, first."""
        prog = parse_program(text)
        self.program.schemas.update(prog.schemas)
        self.program.rules.extend(prog.rules)
        self._analyzed = None
        self._release_results()
        self._statics_pd.clear()
        return self

    def _release_results(self, keep=()) -> None:
        """Drop the memoized results — unbound (``_cache``) and bound-goal
        (``_bound_memo``) — and the statics broadcasts, releasing what they
        own: checkpoint blocks and broadcast blocks. Registered relations
        (plus ``keep``) are the caller's, so their leaves are never
        released. Every invalidation point (load_program, register, reset)
        goes through here: dropping only the references would leave the
        blocks to JVM GC + ContextCleaner timing."""
        release_checkpoint_blocks(
            self._cache.values(), keep=[*self._relations.values(), *keep]
        )
        self._cache.clear()
        self._clear_bound_memo()
        self._size_memo.clear()
        for _, bc in self._statics_bc.values():
            try:
                bc.destroy()
            except Exception:
                pass
        self._statics_bc.clear()

    def _clear_bound_memo(self) -> None:
        """Drop every memoized bound-goal frame AND release its
        checkpoint blocks. The memo is the owner of those materialized
        frames — dropping only the dict reference (the pre-r10 behavior)
        left block reclamation to driver GC + ContextCleaner timing, the
        same deferred-release shape the r3 broadcast leak had. A frame a
        caller still holds stops being re-executable after release
        (localCheckpoint blocks are not recomputable); that matches the
        documented memo contract: results are valid while memoized."""
        release_checkpoint_blocks(self._bound_memo.values())
        self._bound_memo.clear()

    def load_file(self, path: str) -> "BigDatalogContext":
        """Load a .deal program file (BigDatalogContext.loadDatalogFile,
        BigDatalogContext.scala:89-97)."""
        with open(path) as fh:
            return self.load_program(fh.read())

    def register(self, name: str, df: DataFrame) -> None:
        """Attach an existing DataFrame as a base relation.

        Re-registering invalidates the result caches: memoized unbound
        results (``_cache``) and bound-goal slices (``_bound_memo``) were
        computed against the PREVIOUS frame and would silently serve
        stale rows (ADVICE r09 — before the r9 memo, bound goals re-read
        ``_relations`` at compute time, so the memo alone would have been
        a behavior regression for re-register-without-load_program).
        Their checkpoint blocks are released too, so a frame query()
        returned before this call stops being re-executable — except
        ``df`` itself: registering a held result keeps its blocks."""
        if name in self.program.schemas:
            decl = self.program.schemas[name]
            if len(df.columns) != len(decl.columns):
                raise DatalogSemanticError(
                    f"DataFrame width {len(df.columns)} != declared arity "
                    f"{len(decl.columns)} for {name!r}"
                )
        self._release_results(keep=[df])
        self._relations[name] = df

    def register_data(self, name: str, lines, num_partitions: int | None = None) -> None:
        """Load inline CSV lines per the declared schema
        (registerAndLoadTable(name, Seq[String], n), Utilities.scala:116-137)."""
        from ..sources.csv import dataframe_from_lines

        decl = self.program.schemas.get(name)
        if decl is None:
            raise DatalogSemanticError(f"relation {name!r} not declared")
        df = dataframe_from_lines(self.spark, lines, spark_schema_for(decl))
        if num_partitions:
            df = df.repartition(num_partitions)
        self.register(name, df)

    def register_file(self, name: str, path: str, num_partitions: int | None = None) -> None:
        """Load a data file per the declared schema. CSV/TSV keep the
        reference's conventions (registerAndLoadTable(name, path, n),
        Utilities.scala:85-114); parquet/ORC/JSON — formats the reference
        lacks — dispatch on extension via sources.formats."""
        from ..sources.formats import read_table

        decl = self.program.schemas.get(name)
        if decl is None:
            raise DatalogSemanticError(f"relation {name!r} not declared")
        df = read_table(self.spark, path, spark_schema_for(decl))
        if num_partitions:
            df = df.repartition(num_partitions)
        self.register(name, df)

    def reset(self) -> None:
        """Drop the program, relations and memoized results, releasing what
        the context owns (result checkpoint blocks, persisted statics,
        local-eval broadcasts): frames query() returned before a reset stop
        being re-executable. Registered relations' blocks are the caller's."""
        self._release_results()
        self.program = Program()
        self._relations.clear()
        for store in (self._persisted_statics, self._shuffled_statics):
            for df in store.values():
                try:
                    df.unpersist()
                except Exception:
                    pass
            store.clear()
        for bc in self._broadcasts:
            try:
                bc.destroy()
            except Exception:
                pass
        self._broadcasts.clear()
        self._statics_pd.clear()
        self._collected_statics.clear()  # LocalRelations: driver/JVM memory
        self._analyzed = None

    # ------------------------------------------------------------- querying
    def query(self, goal_text: str) -> DataFrame:
        """Compile a query form (e.g. ``tc(A,B).``) to a DataFrame.

        Bound-argument goals on recursive predicates (``tc(0,B).``) push the
        constants into the fixpoint *seed* when sound — the engine-side
        equivalent of DeALS adorned/magic rewriting for bound query forms
        (SURVEY.md §3 step 3; tests RecursiveQuerySuites.scala:81-94). The
        fixpoint then explores only the bound slice instead of computing the
        full closure and filtering."""
        goal = parse_goal(goal_text)
        if self._analyzed is None:
            self._analyzed = analyze(self.program)
        df = self._bound_recursive_df(goal)
        if df is None:
            df = self._pred_df(goal.pred)
        return self._apply_goal(goal, df)

    def _demand_chain_fallback(self, goal: Goal, clique: Clique, bound):
        """DISTRIBUTED demand restriction for bound goals on non-linear /
        mutual CHAIN-COMPOSITION cliques — the tier between the local
        demand transformation and the full unbound closure.

        When `_magic_bound_general` declines (its transformed mutual
        magic⇄guarded clique is local-only: the distributed form measured
        27× worse than the unbound closure, BASELINE.md r07), the engine
        used to pay the ENTIRE unbound closure — superlinear in graph
        size, while the goal needs only the bound vertex's slice. For
        chain-shaped cliques a sound middle path exists: over-approximate
        the demand set with plain LINEAR reachability (distributed-cheap,
        diameter rounds) and run the ordinary clique fixpoint with exit
        seeds semi-joined to that set.

        Soundness. Call a recursive rule a CHAIN when its binary head
        t(A,B) is connected by a walk of binary all-variable body atoms
        A→…→B that consumes every CLIQUE atom (hanging static atoms,
        negated statics, and comparisons are extra conjuncts — they only
        REMOVE derivations, so they never break the containment
        arguments below). Let E* = every exit rule's output pairs ∪ every
        static chain atom's pairs, and R = vertices E*-reachable from the
        bound constant c. Two invariants follow by induction over
        derivation trees: (span) every derivable clique tuple (a,b) has
        b ∈ reach(a) — exit tuples are E* edges by construction, and a
        recursive tuple's chain walks static E* edges and sub-spans;
        (flow) in any derivation of goal(c,·), every clique atom's first
        argument ∈ R — the walk starts at a head value ∈ R and each step
        stays in R. Hence filtering every pred's EXIT OUTPUT to first
        argument ∈ R preserves every tuple any goal derivation uses. A
        bound SECOND position mirrors everything (reversed edges, filter
        on column 1).

        The restriction is an over-approximation: worst case (R = all
        vertices) it degrades gracefully to the unbound closure plus one
        linear reachability — at 100 TB the reachability is diameter
        rounds of delta-joins, while the saved non-linear closure is
        superlinear in the pruned mass. Measured on dl_tc_nl_bound sf10
        (where the local tier growth-aborts): see BASELINE.md round 8."""
        if clique.monotonic or clique.mixed or len(bound) != 1:
            return None
        pos, const = bound[0]
        if pos not in (0, 1):
            return None
        clique_set = set(clique.preds)

        def as_chain(rule):
            """Chain-walk the rule body; returns the list of STATIC chain
            atoms, or None when the rule is not chain-shaped."""
            h = rule.head
            if len(h.args) != 2 or not all(isinstance(t, Var) for t in h.args):
                return None
            a, b = h.args[0].name, h.args[1].name
            if a == b:
                return None
            cand, cliq_total = [], 0
            for lit in rule.body:
                if isinstance(lit, Atom) and not lit.negated:
                    in_clique = lit.pred in clique_set
                    cliq_total += in_clique
                    if len(lit.args) == 2 and all(
                        isinstance(t, Var) for t in lit.args
                    ):
                        cand.append(lit)
                    elif in_clique:
                        return None  # clique atom that can't sit on a chain

            def walk(cur, used, statics_on_chain, cliq_used):
                if cur == b and cliq_used == cliq_total:
                    return statics_on_chain
                for i, atom in enumerate(cand):
                    if i in used or atom.args[0].name != cur:
                        continue
                    nxt = walk(
                        atom.args[1].name,
                        used | {i},
                        statics_on_chain
                        + ([] if atom.pred in clique_set else [atom]),
                        cliq_used + (atom.pred in clique_set),
                    )
                    if nxt is not None:
                        return nxt
                return None

            if pos == 1:
                # mirror: walk b→a over reversed atoms
                cand = [Atom(t.pred, (t.args[1], t.args[0])) for t in cand]
                a, b = b, a
            return walk(a, frozenset(), [], 0)

        chain_static_preds: set[str] = set()
        for pred in clique.preds:
            for rule in clique.recursive_rules[pred]:
                statics_on_chain = as_chain(rule)
                if statics_on_chain is None:
                    return None
                chain_static_preds.update(t.pred for t in statics_on_chain)

        # E* edge set: exit-rule OUTPUT pairs (span holds for any exit
        # shape by construction) + the recursive rules' static chain pairs
        from .fixpoint import _widen, fixpoint_seminaive

        edge_frames = []
        for pred in clique.preds:
            for rule in clique.exit_rules[pred]:
                rc = RuleCompiler(self.spark)
                body = rc.compile_body(rule, lambda p, occ: self._pred_df(p))
                out = rc.project_head(rule, body, distinct=False)
                if len(out.columns) != 2:
                    return None
                edge_frames.append(out)
        for sp in sorted(chain_static_preds):
            df = self._pred_df(sp)
            if len(df.columns) != 2:
                return None
            edge_frames.append(df)
        if not edge_frames:
            return None
        try:
            src_t = dst_t = None
            for ef in edge_frames:
                s, d = (f.dataType.simpleString() for f in ef.schema.fields)
                src_t = s if src_t is None else _widen(src_t, s)
                dst_t = d if dst_t is None else _widen(dst_t, d)
            vt = _widen(src_t, dst_t)  # one vertex domain
        except DatalogSemanticError:
            return None
        srci, dsti = (0, 1) if pos == 0 else (1, 0)
        edges = union_all(
            [
                ef.select(
                    F.col(ef.columns[srci]).cast(vt).alias("__s"),
                    F.col(ef.columns[dsti]).cast(vt).alias("__d"),
                )
                for ef in edge_frames
            ]
        )

        demand, persisted = self._demand_reach(edges, const, vt)

        restrict = {p: [(pos, demand)] for p in clique.preds}
        try:
            results = self._compute_seminaive_clique(
                clique, exit_restrict=restrict
            )
            return results[goal.pred]
        finally:
            if persisted is not None:
                persisted.unpersist()

    def _demand_reach(self, edges: DataFrame, const, vt: str):
        """Vertices reachable from ``const`` over an oriented ``__s → __d``
        edge frame — the demand set both chain tiers share
        (_demand_chain_fallback for set cliques, _bound_monotonic_chain_df
        for monotonic ones). Returns (demand_df, persisted_edges); the
        caller unpersists ``persisted_edges`` when not None.

        DRIVER-LOCAL reach first: the demand set is often tiny (bound at
        a leaf: the ancestor chain), but a distributed PSN reach pays one
        full job round per graph-diameter hop — ~17 rounds ≈ 7 s at
        sf0.1 for a 17-row answer. Under the gate, one bounded fetch +
        a vectorized pandas BFS costs one job total; the distributed
        loop remains the path for beyond-gate edge sets."""
        from .fixpoint import fixpoint_seminaive

        demand = None
        persisted = None
        # BYTE-aware gate: the row knob is capped by the broadcast byte
        # budget over the actual row width, so wide vertex types (strings)
        # cannot make the bounded fetch unbounded in bytes (ADVICE r08).
        row_bytes = 8 + sum(
            self._TYPE_BYTES.get(f.dataType.simpleString(), 24)
            for f in edges.schema.fields
        )
        gate = min(
            self.config.chain_fetch_max_rows,
            self.config.broadcast_max_bytes // row_bytes,
        )
        pdf = None
        if self.config.driver_local and gate > 0:
            # Catalyst-stats fast path: when the optimizer KNOWS the edge
            # set is far over the gate, skip the fused fetch instead of
            # shipping ~gate rows to the driver and discarding them.
            # FINITE stats only — RDD-backed in-memory relations report
            # defaultSizeInBytes (Long.MaxValue = "unknown", not "huge"),
            # and join/union stats over-estimate, hence the 16x margin and
            # the fused gate-and-collect as the undecided default (edges
            # are unpersisted; a count probe would recompute them).
            try:
                stats = int(
                    edges._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            except Exception:
                stats = -1
            if not (0 <= stats < (1 << 62) and stats >= 16 * gate * row_bytes):
                pdf = edges.limit(gate + 1).toPandas()
        if pdf is not None and len(pdf) <= gate:
            seen = {const}
            frontier = {const}
            s_col, d_col = pdf["__s"], pdf["__d"]
            while frontier:
                nxt = set(d_col[s_col.isin(frontier)].dropna()) - seen
                seen |= nxt
                frontier = nxt
            import pandas as pd

            demand = self.spark.createDataFrame(
                pd.DataFrame({"c0": list(seen)}),
                T.StructType(
                    [T.StructField("c0", edges.schema["__s"].dataType, True)]
                ),
            )
            # exact row count: lets the exit_restrict broadcast decision
            # skip even the stats call
            demand._bdlog_known_rows = len(seen)
        else:
            del pdf
            n_shuffle = int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
            persisted = edges.repartition(n_shuffle, "__s").persist()
            edges = persisted

            seed = self.spark.createDataFrame([(const,)], ["c0"]).select(
                F.col("c0").cast(vt).alias("c0")
            )

            def reach_step(all_dfs, delta_dfs):
                d = delta_dfs["__reach"]
                return {
                    "__reach": d.join(
                        edges, d["c0"] == edges["__s"]
                    ).select(F.col("__d").alias("c0"))
                }

            res = fixpoint_seminaive(
                {"__reach": seed}, reach_step, self.config.fixpoint
            )
            demand = res["__reach"]

        return demand, persisted

    def _bound_monotonic_chain_df(
        self, goal: Goal, clique: Clique, bound
    ) -> DataFrame | None:
        """Chain-restricted demand for bound goals on MONOTONIC cliques
        whose bound key position is NOT stable — ``apsp(X,c,D)`` ("every
        source's distance TO c") previously paid the full all-pairs
        fixpoint + filter. _demand_chain_fallback lifted to aggregate
        heads: project the head and every clique atom to their two KEY
        positions (the aggregated value and any weight arguments are extra
        conjuncts — they only remove derivations); require each recursive
        rule's keys to form a chain walk key-A → key-B consuming every
        clique atom, where static atoms of ANY arity may hop between any
        two distinct variable positions (ignoring a static's constant /
        extra-arg filters only ADDS E* edges — a reach superset stays
        sound). E* = exit outputs' key pairs ∪ the static hops' projected
        pairs, walk-oriented; R = vertices E*-reachable from the bound
        constant (edges reversed when the goal binds the walk END, the
        apsp-destination case).

        Soundness, in two steps. (flow) By the chain tier's top-down
        induction, every clique tuple in a derivation of goal(…,c,…)
        carries bound-position key ∈ R. (exactness under aggregation —
        the step the set tier doesn't need) monotonic recursion reads the
        AGGREGATED table, so pruning contributions of out-of-R groups must
        not disturb in-R groups' values: it doesn't, because every
        derivation of ANY value of an R-keyed group stays inside R-keyed
        groups (each intermediate key chains to the next hop, hence
        reaches c), so each R-keyed group keeps its full derivable-value
        set and mmin/mmax over it is EXACT. Worst case R = all vertices:
        the unbound closure plus one linear reachability.

        MIXED (mcount/msum) single-pred cliques are served too: the same
        preservation argument covers their distinct SUPPORT sets (every
        support tuple of an R-keyed group derives inside R-keyed groups),
        so final counts/sums of R-keyed groups are exact — and threshold
        conjuncts (``N >= k``) read the running aggregate of an R-keyed
        group (flow invariant), whose monotone trajectory reaches the same
        fixpoint, so everything that eventually fires still fires."""
        if (
            not (clique.monotonic or clique.mixed)
            or len(clique.preds) != 1
            or len(bound) != 1
        ):
            return None
        pred = clique.preds[0]
        rules = self.program.rules_for(pred)
        if clique.mixed:
            info = clique.agg_info.get(pred)
            if info is None:
                return None
            arity = rules[0].head.arity
            key_idx = [i for i in range(arity) if i != info[0]]
        else:
            try:
                shape = self._agg_shape(pred, rules)
            except DatalogSemanticError:
                return None
            key_idx = [i for i, f in shape if f is None]
        if len(key_idx) != 2:
            return None
        bpos, const = bound[0]
        if bpos not in key_idx:
            return None
        pos = key_idx.index(bpos)  # 0 = walk start, 1 = walk end
        clique_set = set(clique.preds)

        def as_chain(rule):
            """Key-projected chain walk; returns the list of static hop
            payloads ``(atom, i, j)`` on the walk (walk-oriented column
            positions), or None when the rule is not chain-shaped."""
            h = rule.head.args
            a_t, b_t = h[key_idx[0]], h[key_idx[1]]
            if not (isinstance(a_t, Var) and isinstance(b_t, Var)):
                return None
            a, b = a_t.name, b_t.name
            if a == b:
                return None
            atoms = []  # (is_clique, [(from_var, to_var, payload|None)])
            cliq_total = 0
            for lit in rule.body:
                if not (isinstance(lit, Atom) and not lit.negated):
                    continue  # comparisons / negated statics: conjuncts
                if lit.pred in clique_set:
                    cliq_total += 1
                    ka, kb = lit.args[key_idx[0]], lit.args[key_idx[1]]
                    if not (isinstance(ka, Var) and isinstance(kb, Var)):
                        return None  # clique atom that can't sit on a chain
                    hop = (ka.name, kb.name) if pos == 0 else (kb.name, ka.name)
                    atoms.append((True, [(hop[0], hop[1], None)]))
                else:
                    var_pos = [
                        (i, t.name)
                        for i, t in enumerate(lit.args)
                        if isinstance(t, Var)
                    ]
                    # both directions are distinct candidate hops, each
                    # carrying its own walk-oriented (i, j) projection
                    hops = [
                        (u, v, (lit, i, j))
                        for i, u in var_pos
                        for j, v in var_pos
                        if i != j and u != v
                    ]
                    atoms.append((False, hops))
            if pos == 1:
                a, b = b, a

            def walk(cur, used, statics_on_chain, cliq_used):
                if cur == b and cliq_used == cliq_total:
                    return statics_on_chain
                for idx, (is_cliq, hops) in enumerate(atoms):
                    if idx in used:
                        continue
                    for u, v, payload in hops:
                        if u != cur:
                            continue
                        nxt = walk(
                            v,
                            used | {idx},
                            statics_on_chain
                            + ([] if payload is None else [payload]),
                            cliq_used + is_cliq,
                        )
                        if nxt is not None:
                            return nxt
                return None

            return walk(a, frozenset(), [], 0)

        static_hops: set = set()
        for rule in clique.recursive_rules[pred]:
            hops = as_chain(rule)
            if hops is None:
                return None
            static_hops.update((lit.pred, i, j) for lit, i, j in hops)

        from .fixpoint import _widen

        ek1, ek2 = (
            (key_idx[0], key_idx[1]) if pos == 0 else (key_idx[1], key_idx[0])
        )
        edge_frames = []
        for rule in clique.exit_rules[pred]:
            rc = RuleCompiler(self.spark)
            body = rc.compile_body(rule, lambda p, occ: self._pred_df(p))
            out = rc.pre_aggregate_projection(rule, body)
            edge_frames.append(
                out.select(out.columns[ek1], out.columns[ek2])
            )
        for sp, i, j in sorted(static_hops):
            df = self._pred_df(sp)
            if max(i, j) >= len(df.columns):
                return None
            edge_frames.append(df.select(df.columns[i], df.columns[j]))
        if not edge_frames:
            return None
        try:
            src_t = dst_t = None
            for ef in edge_frames:
                s, d = (f.dataType.simpleString() for f in ef.schema.fields)
                src_t = s if src_t is None else _widen(src_t, s)
                dst_t = d if dst_t is None else _widen(dst_t, d)
            vt = _widen(src_t, dst_t)
        except DatalogSemanticError:
            return None
        edges = union_all(
            [
                ef.select(
                    F.col(ef.columns[0]).cast(vt).alias("__s"),
                    F.col(ef.columns[1]).cast(vt).alias("__d"),
                )
                for ef in edge_frames
            ]
        )

        demand, persisted = self._demand_reach(edges, const, vt)
        try:
            if clique.mixed:
                return self._compute_mixed_clique(
                    clique, exit_restrict={pred: [(bpos, demand)]}
                )[pred]
            return self._compute_monotonic_clique(
                clique, exit_restrict=[(bpos, demand)]
            )
        finally:
            if persisted is not None:
                persisted.unpersist()

    def create_view(self, name: str, goal_text: str) -> DataFrame:
        """Register a query's result as a temp view, so Datalog results
        compose with plain ``spark.sql`` — the SQL face of the reference's
        BigDatalogProgram DataFrame interop (BigDatalogProgram.scala:30-41,
        where ``toDF`` feeds stock Spark SQL). The view is lazy: the
        fixpoint runs when SQL referencing it executes, and the memoized
        result table (``self._cache``) is shared with ``query``."""
        df = self.query(goal_text)
        df.createOrReplaceTempView(name)
        return df

    def _bound_recursive_df(self, goal: Goal) -> DataFrame | None:
        """Goal-specific fixpoint for bound goals over a recursive predicate,
        when every bound position provably flows unchanged from the exit
        rules through all recursive occurrences. Returns None when the
        rewrite doesn't apply (fall back to full fixpoint + filter)."""
        bound = [
            (i, t.value) for i, t in enumerate(goal.args) if isinstance(t, Const)
        ]
        if not bound or goal.pred in self._cache:
            return None
        key = (goal.pred, tuple(bound))
        if key in self._bound_memo:
            return self._bound_memo[key]
        df = self._bound_recursive_uncached(goal, bound)
        if df is not None:
            # FIFO-capped: each entry pins a materialized (checkpointed)
            # frame's blocks; an adversarial stream of distinct bound
            # constants must not accumulate them unboundedly. Release the
            # evicted frame's blocks deterministically — dropping only the
            # dict reference defers reclamation to GC + ContextCleaner
            # timing, so the cap bounded the dict but not storage
            # (ADVICE r09; the r3 broadcast-destroy lesson applied here).
            if len(self._bound_memo) >= 64:
                evicted = self._bound_memo.pop(next(iter(self._bound_memo)))
                # magic-path results are ALSO served from _cache under
                # their guarded name — releasing those here would free
                # blocks the cache still hands out; only frames the memo
                # solely owns are released
                if not any(evicted is v for v in self._cache.values()):
                    release_checkpoint_blocks([evicted])
            self._bound_memo[key] = df
        return df

    def _bound_recursive_uncached(self, goal: Goal, bound) -> DataFrame | None:
        clique = self._analyzed.clique_of.get(goal.pred)
        if clique is None:
            return None
        if clique.monotonic or clique.mixed:
            return self._bound_aggregate_df(goal, clique, bound)
        if len(clique.preds) == 1:
            stable = self._stable_positions(clique, goal.pred)
            if all(i in stable for i, _ in bound):
                results = self._compute_seminaive_clique(
                    clique, seed_filter={goal.pred: bound}
                )
                return results[goal.pred]
            df = self._magic_bound_df(goal, clique, bound)
            if df is not None:
                return df
        df = self._magic_bound_general(goal, clique, bound)
        if df is not None:
            return df
        # local demand transformation declined (gate or growth abort):
        # try the distributed chain-restricted tier before paying the
        # full unbound closure
        return self._demand_chain_fallback(goal, clique, bound)

    def _bound_aggregate_df(
        self, goal: Goal, clique: Clique, bound
    ) -> DataFrame | None:
        """Demand pushdown for bound goals on MONOTONIC / MIXED aggregate
        cliques — the engine-side analogue of DeALS adorned rewriting for
        aggregate query forms (BigDatalogContext.scala:124-138; SURVEY.md
        §3 step 3), which previously had NO demand path at all: a goal like
        ``apsp(c,Y,D)`` paid the full all-pairs monotonic fixpoint and
        filtered afterwards — catastrophic at scale on an all-pairs
        program.

        Sound exactly when every bound position is (a) a GROUP-KEY
        position — not the aggregated value — and (b) STABLE
        (_stable_positions: copied verbatim from every recursive occurrence
        to the head in every recursive rule). By induction over derivation
        trees, every clique tuple used in a derivation of a head tuple with
        stable position i = c itself carries i = c (exit tuples by the seed
        filter; recursive tuples copy the value verbatim), so restricting
        the exit contribution stream to i = c preserves EVERY contribution
        to every i = c group and drops only other groups' — which cannot
        change the i = c aggregates, since mmin/mmax/mcount/msum group by
        the key columns. ``apsp(c,Y,D)`` thus runs a single-source fixpoint
        (dl_sssp's shape) instead of the all-pairs closure. Returns None
        when the conditions fail — full fixpoint + goal filter serves the
        query instead (correct, unpruned)."""
        if len(clique.preds) != 1:
            return None
        pred = clique.preds[0]
        if clique.mixed:
            info = clique.agg_info.get(pred)
            agg_pos = {info[0]} if info is not None else set()
        else:
            shape = self._agg_shape(pred, self.program.rules_for(pred))
            agg_pos = {i for i, f in shape if f is not None}
        stable = self._stable_positions(clique, pred)
        pushable = [b for b in bound if b[0] in stable and b[0] not in agg_pos]
        if not pushable:
            # no stable bound key: try the chain-restricted demand tier
            # (monotonic AND mixed) before paying the full closure
            return self._bound_monotonic_chain_df(goal, clique, bound)
        # push the stable subset into the seed; _apply_goal post-filters
        # every bound position anyway, so a partially-bound goal like
        # apsp(3,5,D) runs the single-source fixpoint + a dest filter
        # instead of falling all the way back to the all-pairs closure
        if clique.mixed:
            return self._compute_mixed_clique(
                clique, seed_filter={pred: pushable}
            )[pred]
        return self._compute_monotonic_clique(clique, seed_filter=pushable)

    def _magic_bound_df(self, goal: Goal, clique: Clique, bound) -> DataFrame | None:
        """Magic-sets / demand transformation for bound goals whose bound
        positions are NOT stable (the same-generation `sg(a,Y)` shape) —
        the engine-side equivalent of the DeALS compiler's magic-set
        rewriting (SURVEY.md §3 step 3), specialized to linear
        single-predicate cliques.

        Emits the textbook magic-transformed *program* and evaluates it
        through the ordinary machinery (clique analysis, local fast paths,
        broadcast gates, static caching all apply unchanged):

        * demand:   ``m(t_B) <- m(h_B), <SIP atoms>.`` per recursive rule,
          seeded by a constant TUPLE rule ``m(V..) <- V = c, ...`` — for
          ``sg(a,Y)`` this computes the ancestors of ``a`` via ``up``;
        * guarded:  every rule of p copied under a fresh name with
          ``m(h_B)`` prepended to the body, so exit seeds AND per-iteration
          candidates are demand-restricted inside the rule join itself.

        The SIP (sideways information passing) closure walks positive
        non-clique body atoms reachable from the head's bound variables;
        comparisons fully bound by the closure are kept for selectivity.
        Returns None (full fixpoint + filter) when the shape doesn't admit
        the rewrite: non-linear rules, arithmetic/anonymous demand targets,
        or a bound position the SIP closure cannot reach.

        Predicate names embed the bound constants, so results memoize in
        the shared cache per distinct bound goal."""
        import hashlib

        pred = clique.preds[0]
        B = [i for i, _ in bound]
        suffix = hashlib.md5(repr(bound).encode()).hexdigest()[:8]
        magic_name = f"__magic_{pred}_{suffix}"
        guarded_name = f"__bound_{pred}_{suffix}"
        if guarded_name in self._cache:
            return self._resolve_cached(guarded_name)

        magic_rules: list[Rule] = []
        for rule in clique.recursive_rules[pred]:
            occs = self._rule_clique_occurrences(rule, clique)
            if len(occs) != 1:
                return None  # non-linear: demand would need all of p anyway
            occ_atom = rule.body_atoms[occs[0]]
            head_terms = []
            for i in B:
                h = rule.head.args[i]
                if not isinstance(h, Var):
                    return None
                head_terms.append(h)
            # SIP closure: positive non-clique atoms reachable from the
            # head-bound variables (never through the recursive occurrence)
            bound_vars = {v.name for v in head_terms}
            pool = [
                a
                for k, a in enumerate(rule.body_atoms)
                if k != occs[0] and a.pred not in clique.preds
            ]
            included: list[Atom] = []
            changed = True
            while changed:
                changed = False
                for a in list(pool):
                    avars = {t.name for t in a.args if isinstance(t, Var)}
                    if avars & bound_vars:
                        included.append(a)
                        pool.remove(a)
                        bound_vars |= avars
                        changed = True
            targets = []
            for i in B:
                t = occ_atom.args[i]
                if isinstance(t, Const):
                    targets.append(t)
                elif isinstance(t, Var) and t.name in bound_vars:
                    targets.append(t)
                else:
                    return None  # unreachable/anonymous/arith target
            comparisons = [
                c
                for c in rule.body
                if isinstance(c, Comparison) and _comparison_vars(c) <= bound_vars
            ]
            magic_rules.append(
                Rule(
                    head=Atom(magic_name, tuple(targets)),
                    body=[Atom(magic_name, tuple(head_terms))] + included + comparisons,
                )
            )

        # seed TUPLE rule: m(V0,...) <- V0 = c0, ... (the reach-seed shape)
        seed_vars = [Var(f"__MB{k}") for k in range(len(B))]
        seed_rule = Rule(
            head=Atom(magic_name, tuple(seed_vars)),
            body=[
                Comparison("=", v, Const(val))
                for v, (_, val) in zip(seed_vars, bound)
            ],
        )

        # guarded copies of every rule of p: m(h_B) prepended, clique
        # occurrences renamed — the demand join restricts exploration
        # inside each rule body, on every path (local or distributed)
        guarded_rules: list[Rule] = []
        for rule in clique.exit_rules[pred] + clique.recursive_rules[pred]:
            guard_terms = []
            for i in B:
                h = rule.head.args[i]
                if not isinstance(h, (Var, Const)):
                    return None
                guard_terms.append(h)
            new_body: list = [Atom(magic_name, tuple(guard_terms))]
            for lit in rule.body:
                if (
                    isinstance(lit, Atom)
                    and not lit.negated
                    and lit.pred == pred
                ):
                    new_body.append(Atom(guarded_name, lit.args))
                else:
                    new_body.append(lit)
            guarded_rules.append(Rule(Atom(guarded_name, rule.head.args), new_body))

        sub = BigDatalogContext(self.spark, self.config)
        sub.program = Program(
            schemas=self.program.schemas,
            rules=list(self.program.rules)
            + [seed_rule]
            + magic_rules
            + guarded_rules,
        )
        # share data, memoized results, and persisted statics — the
        # transformed program is a strict superset, so every shared entry
        # means the same thing in both contexts
        sub._relations = self._relations
        sub._cache = self._cache
        sub._persisted_statics = self._persisted_statics
        sub._shuffled_statics = self._shuffled_statics
        sub._size_memo = self._size_memo
        sub._collected_statics = self._collected_statics
        sub._broadcasts = self._broadcasts
        sub._statics_pd = self._statics_pd
        sub._statics_bc = self._statics_bc
        sub._analyzed = analyze(sub.program)
        return sub._pred_df(guarded_name)

    def _magic_bound_general(
        self, goal: Goal, clique: Clique, bound
    ) -> DataFrame | None:
        """Adorned magic-sets demand transformation for bound goals on
        NON-LINEAR and MUTUAL recursive cliques — the query forms the
        DeALS front end adorns that `_magic_bound_df`'s linear
        single-predicate specialization does not cover (SURVEY.md §3
        step 3; consumed at LogicalPlanGenerator.scala:344-384).

        Textbook adorned rewriting with left-to-right sideways
        information passing (SIP): a worklist of (predicate, adornment)
        pairs — an adornment is the tuple of bound argument positions —
        generates, per adorned predicate, a magic (demand) predicate and
        a guarded copy of each of its rules. Walking a rule body left to
        right, a clique occurrence's adornment is the set of its
        positions holding a constant or an already-bound variable; each
        occurrence emits one magic rule whose body is the SIP prefix
        (the head's magic atom, the positive atoms walked so far with
        clique occurrences renamed to their guarded copies, and the
        comparisons already fully bound), then the occurrence itself is
        renamed to its guarded copy and its variables join the bound
        set. Unlike the linear case — where magic and guarded predicates
        stratify into separate cliques — the transformed program here is
        genuinely MUTUALLY recursive (a later occurrence's demand flows
        through an earlier occurrence's guarded results), which the
        ordinary k-predicate PSN machinery evaluates — but ONLY via the
        in-task local path: that clique has no clique-stable pivot, and
        its distributed form measured 27× slower than the unbound
        closure it replaces (see the evaluation-cost gate at the end of
        this function and BASELINE.md round 7).

        Returns None (fall back to full fixpoint + filter) when the
        rewrite doesn't apply: an occurrence with an empty adornment
        (left-to-right SIP cannot restrict it — e.g. non-linear TC bound
        on the SECOND argument), a bound head position holding an
        arithmetic/anonymous term, or arithmetic-only binding chains
        (even/odd-style `X = Y + 1` binds forward only).

        Redundant-guard elimination: when a rule body contains an
        occurrence of the head's own predicate with the head's exact
        adornment and bound terms (non-linear TC's `tc(A,C)` under head
        `tc(A,B)` bound on A), the head's magic guard is dropped from
        the guarded rule — inductively every g(q,B) row's B-projection
        is already in magic(q,B) (exit-shaped rules keep their guards,
        giving the base case), so the guard filters nothing and costs
        one full-delta join per PSN term per round."""
        import hashlib

        consts = dict(bound)
        B0 = tuple(sorted(consts))
        suffix = hashlib.md5(repr(sorted(bound)).encode()).hexdigest()[:8]

        def m_name(q: str, B: tuple) -> str:
            return f"__magic_{q}_{'_'.join(map(str, B))}_{suffix}"

        def g_name(q: str, B: tuple) -> str:
            return f"__bound_{q}_{'_'.join(map(str, B))}_{suffix}"

        root = g_name(goal.pred, B0)
        if root in self._cache:
            return self._resolve_cached(root)

        def term_vars(t) -> set[str]:
            if isinstance(t, Var):
                return {t.name}
            if isinstance(t, Arith):
                return term_vars(t.left) | term_vars(t.right)
            return set()

        new_rules: list[Rule] = []
        done: set[tuple[str, tuple]] = set()
        work: list[tuple[str, tuple]] = [(goal.pred, B0)]
        while work:
            q, B = work.pop()
            if (q, B) in done:
                continue
            done.add((q, B))
            for rule in clique.exit_rules.get(q, []) + clique.recursive_rules.get(
                q, []
            ):
                head_terms = []
                for i in B:
                    h = rule.head.args[i]
                    if not isinstance(h, (Var, Const)):
                        return None  # arithmetic/anonymous bound head term
                    head_terms.append(h)
                bound_vars = {t.name for t in head_terms if isinstance(t, Var)}
                magic_atom = Atom(m_name(q, B), tuple(head_terms))
                new_body: list = [magic_atom]
                atom_prefix: list = []  # positive atoms walked so far
                cmp_prefix: list[Comparison] = []
                guard_redundant = False
                for lit in rule.body:
                    if (
                        isinstance(lit, Atom)
                        and not lit.negated
                        and lit.pred in clique.preds
                    ):
                        occB = tuple(
                            sorted(
                                i
                                for i, t in enumerate(lit.args)
                                if isinstance(t, Const)
                                or (isinstance(t, Var) and t.name in bound_vars)
                            )
                        )
                        if not occB:
                            return None  # SIP cannot restrict this occurrence
                        targets = tuple(lit.args[i] for i in occB)
                        same_demand = (
                            lit.pred == q
                            and occB == B
                            and targets == tuple(head_terms)
                        )
                        if same_demand:
                            # this occurrence's guarded copy already carries
                            # the head's demand at the head's bound positions
                            # (inductively: every g(q,B) row's B-projection is
                            # in magic(q,B)), so the head magic guard filters
                            # nothing — drop it below to save one join of the
                            # full delta against the magic set per PSN term
                            # per round
                            guard_redundant = True
                        trivial = same_demand and not atom_prefix
                        if not trivial:
                            new_rules.append(
                                Rule(
                                    head=Atom(m_name(lit.pred, occB), targets),
                                    body=[magic_atom]
                                    + atom_prefix
                                    + [
                                        c
                                        for c in cmp_prefix
                                        if _comparison_vars(c) <= bound_vars
                                    ],
                                )
                            )
                        if (lit.pred, occB) not in done:
                            work.append((lit.pred, occB))
                        glit = Atom(g_name(lit.pred, occB), lit.args)
                        new_body.append(glit)
                        atom_prefix.append(glit)
                        bound_vars |= {
                            t.name for t in lit.args if isinstance(t, Var)
                        }
                    elif isinstance(lit, Atom) and not lit.negated:
                        new_body.append(lit)
                        atom_prefix.append(lit)
                        bound_vars |= {
                            t.name for t in lit.args if isinstance(t, Var)
                        }
                    elif isinstance(lit, Atom):
                        # negated atoms filter only; never in the SIP prefix
                        # (their vars may be bound later in the rule body)
                        new_body.append(lit)
                    elif isinstance(lit, Comparison):
                        new_body.append(lit)
                        cmp_prefix.append(lit)
                        if lit.op == "=":
                            # propagate a binding ONLY onto a bare Var side:
                            # that is the single assignment form both
                            # evaluators support (compiler._apply_comparison,
                            # local_eval._apply_comparison_pd). Marking the
                            # variables of an arithmetic side (X+1 = Y with Y
                            # bound) as bound would emit magic rules neither
                            # evaluator can resolve — the comparison still
                            # FILTERS once its vars bind elsewhere, it just
                            # cannot BIND here (inverting arithmetic is not
                            # in the engine, nor the reference).
                            lv, rv = term_vars(lit.left), term_vars(lit.right)
                            if rv and rv <= bound_vars and isinstance(lit.left, Var):
                                bound_vars |= lv
                            elif (
                                lv
                                and lv <= bound_vars
                                and isinstance(lit.right, Var)
                            ):
                                bound_vars |= rv
                    else:
                        new_body.append(lit)
                body = new_body[1:] if guard_redundant else new_body
                new_rules.append(Rule(Atom(g_name(q, B), rule.head.args), body))

        seed_vars = [Var(f"__MB{k}") for k in range(len(B0))]
        seed_rule = Rule(
            head=Atom(m_name(goal.pred, B0), tuple(seed_vars)),
            body=[
                Comparison("=", v, Const(consts[i]))
                for v, i in zip(seed_vars, B0)
            ],
        )

        sub = BigDatalogContext(self.spark, self.config)
        sub.program = Program(
            schemas=self.program.schemas,
            rules=list(self.program.rules) + [seed_rule] + new_rules,
        )
        sub._relations = self._relations
        sub._cache = self._cache
        sub._persisted_statics = self._persisted_statics
        sub._shuffled_statics = self._shuffled_statics
        sub._size_memo = self._size_memo
        sub._collected_statics = self._collected_statics
        sub._broadcasts = self._broadcasts
        sub._statics_pd = self._statics_pd
        sub._statics_bc = self._statics_bc
        sub._analyzed = analyze(sub.program)

        # Evaluation-cost gate: when the SIP routes a later occurrence's
        # demand through an earlier occurrence's guarded results (non-
        # linear rules), magic and guarded land in ONE mutually recursive
        # clique with no clique-stable pivot (magic's head value comes
        # from a guarded non-pivot position), so the distributed loop
        # pays full exchanges for every semi-naive term every round —
        # measured 27× SLOWER than the unbound closure it replaces
        # (sf0.1 forced-distributed: 400 s vs 15 s). The transformed
        # program is only a win where the in-task local path serves it
        # (its seeds are constants, so the statics byte gate is the
        # binding constraint; sf1: 5.5 s vs 106 s unbound). Decline to
        # the fallback whenever that mutual clique would run distributed.
        # Stratified outputs (every SIP prefix static — e.g. bound goals
        # on mutual p/q cliques) skip the gate: their magic clique is
        # plain linear reachability, cheap on either path, the same shape
        # `dl_sg_bound` runs scale-independently.
        tclique = sub._analyzed.clique_of.get(root)
        if tclique is not None and any(
            p.startswith("__magic_") for p in tclique.preds
        ):
            if (
                not self.config.decomposable_local
                or sub._local_clique_shape(tclique) is None
                or sub._local_statics(sub._clique_static_preds(tclique))
                is None
            ):
                return None
        # the upfront gate can't predict a driver-loop GROWTH abort (the
        # demanded slice outgrowing the local budget mid-evaluation); mark
        # the sub-context so the distributed dispatch declines the mixed
        # magic⇄guarded clique instead of running the condemned shape
        sub._magic_local_only = True
        try:
            return sub._pred_df(root)
        except _MagicLocalAbort:
            return None

    @staticmethod
    def _stable_positions(clique: Clique, pred: str) -> set[int]:
        """Argument positions whose value is copied verbatim from every
        recursive-occurrence argument to the head in every recursive rule —
        for these, filtering the exit rules equals filtering the fixpoint."""
        rules = clique.recursive_rules[pred]
        if not rules:
            return set()
        arity = rules[0].head.arity
        stable = set(range(arity))
        for rule in rules:
            for i in list(stable):
                h = rule.head.args[i]
                if not isinstance(h, Var):
                    stable.discard(i)
                    continue
                for atom in rule.body_atoms:
                    if atom.pred != pred:
                        continue
                    a = atom.args[i]
                    if not (isinstance(a, Var) and a.name == h.name):
                        stable.discard(i)
                        break
        return stable

    def _apply_goal(self, goal: Goal, df: DataFrame) -> DataFrame:
        cols = df.columns
        if len(cols) != len(goal.args):
            raise DatalogSemanticError(
                f"goal arity {len(goal.args)} != predicate arity {len(cols)}"
            )
        # bound arguments → filters (the compiler-side equivalent of DeALS
        # adorned query forms, RecursiveQuerySuites 'bf' tests); Catalyst
        # pushes them into the non-recursive parts of the plan
        out_names: list[str] = []
        seen: dict[str, int] = {}
        used_vars: dict[str, str] = {}
        for i, term in enumerate(goal.args):
            if isinstance(term, Const):
                df = df.filter(F.col(cols[i]) == F.lit(term.value))
                out_names.append(f"c{i}")
            elif isinstance(term, Var):
                if term.name in used_vars:  # repeated goal var: equality
                    df = df.filter(F.col(used_vars[term.name]) == F.col(cols[i]))
                    n = seen.get(term.name, 0) + 1
                    seen[term.name] = n
                    out_names.append(f"{term.name}_{n}")
                else:
                    used_vars[term.name] = cols[i]
                    out_names.append(term.name)
            else:
                out_names.append(f"c{i}")
        return df.select(
            *[F.col(c).alias(n) for c, n in zip(cols, out_names)]
        )

    # ------------------------------------------------------------- resolution
    def _base_df(self, name: str) -> DataFrame:
        if name not in self._relations:
            if name not in self.program.schemas:
                raise DatalogSemanticError(
                    f"unknown predicate {name!r}: not declared in "
                    f"database({{...}}) and no rules define it"
                )
            raise DatalogSemanticError(f"base relation {name!r} has no data registered")
        return self._relations[name]

    def _resolve_cached(self, pred: str) -> DataFrame:
        """Read a memoized result, forcing a deferred one. Unqueried clique
        predicates are cached as zero-cost thunks (building their frame costs
        a full physical planning pass for the lineage-truncating checkpoint
        — see _try_local_seminaive); the first real consumer pays it, and
        the built frame replaces the thunk."""
        val = self._cache[pred]
        if callable(val):
            val = val()
            self._cache[pred] = val
        return val

    def _pred_df(self, pred: str) -> DataFrame:
        """Memoized bottom-up resolution of a predicate's DataFrame."""
        if pred in self._cache:
            return self._resolve_cached(pred)
        if pred in self.program.schemas and not self.program.rules_for(pred):
            return self._base_df(pred)
        clique = self._analyzed.clique_of.get(pred)
        if clique is not None:
            self._compute_clique(clique)
        else:
            self._cache[pred] = self._compile_nonrecursive(pred)
        return self._resolve_cached(pred)

    def _static_resolve(self, pred: str, _occ=None) -> DataFrame:
        return self._pred_df(pred)

    # ------------------------------------------------------------- non-recursive
    def _compile_nonrecursive(self, pred: str) -> DataFrame:
        rules = self.program.rules_for(pred)
        if not rules:
            return self._base_df(pred)
        agg_rules = [r for r in rules if r.agg_terms]
        if agg_rules:
            if len(agg_rules) != len(rules):
                raise DatalogSemanticError(
                    f"predicate {pred!r} mixes aggregate and plain rules"
                )
            return self._compile_aggregate_pred(pred, rules)
        dfs = []
        for rule in rules:
            rc = RuleCompiler(self.spark)
            body = rc.compile_body(rule, self._static_resolve)
            dfs.append(rc.project_head(rule, body, distinct=False))
        out = union_all(dfs)
        if self.config.union_distinct:
            # set semantics (spark.datalog.uniondistinct.enabled default true,
            # "Datalog uses set-semantics!" README.md:36)
            out = out.distinct()
        return out

    def _compile_aggregate_pred(self, pred: str, rules: list) -> DataFrame:
        """Stratified aggregates (§2.4): aggregate over the bag of body
        derivations, unioned across rules."""
        shape = self._agg_shape(pred, rules)
        pre = []
        for rule in rules:
            rc = RuleCompiler(self.spark)
            body = rc.compile_body(rule, self._static_resolve)
            pre.append(rc.pre_aggregate_projection(rule, body))
        bag = union_all(pre)
        return self._final_aggregate(bag, shape)

    def _agg_shape(self, pred: str, rules: list):
        """(key positions, [(pos, func)]) — consistent across rules."""
        shapes = set()
        for rule in rules:
            shapes.add(
                tuple(
                    (i, t.func) if isinstance(t, AggTerm) else (i, None)
                    for i, t in enumerate(rule.head.args)
                )
            )
        if len(shapes) != 1:
            raise DatalogSemanticError(
                f"rules of aggregate predicate {pred!r} disagree on aggregate "
                f"positions: {shapes}"
            )
        return next(iter(shapes))

    def _final_aggregate(self, bag: DataFrame, shape) -> DataFrame:
        names = [f"c{i}" for i, _ in shape]
        keys = [names[i] for i, (pos, func) in enumerate(shape) if func is None]
        funcs = [f for _, f in shape if f is not None]
        if any(f in ("mcount", "msum") for f in funcs):
            # additive monotonic aggregates range over the DISTINCT support
            # set of (keys..., value) tuples (DeALS mcount/msum semantics)
            if len(funcs) != 1:
                raise DatalogSemanticError(
                    "mcount/msum cannot be combined with other aggregates "
                    "in one head (distinct-support semantics)"
                )
            bag = bag.distinct()
        aggs = []
        for i, (pos, func) in enumerate(shape):
            if func is None:
                continue
            col = F.col(names[i])
            fn = {
                "count": F.count,
                "countd": F.count_distinct,
                "sum": F.sum,
                "avg": F.avg,
                "min": F.min,
                "max": F.max,
                "mmin": F.min,  # monotonic agg outside recursion = plain agg
                "mmax": F.max,
                "mcount": F.count,  # over the distinct support set (above)
                "msum": F.sum,
            }[func]
            aggs.append(fn(col).alias(names[i]))
        if keys:
            return bag.groupBy(*keys).agg(*aggs).select(*names)
        return bag.agg(*aggs).select(*names)

    # ------------------------------------------------------------- recursion
    def _rule_clique_occurrences(self, rule: Rule, clique: Clique) -> list[int]:
        occs = []
        for i, atom in enumerate(rule.body_atoms):
            if atom.pred in clique.preds:
                occs.append(i)
        return occs

    def _maybe_broadcast(self, df: DataFrame) -> DataFrame:
        """Join-side strategy for the static (non-recursive) side of joins
        inside a fixpoint (spark.datalog.jointype=broadcast default,
        LogicalPlanGenerator.scala:224-241 — never the recursive side).

        Unlike the reference we gate the hint on Catalyst's size estimate:
        a forced broadcast of a 100 TB edge relation would OOM the driver.

        Every static side is persisted first: broadcast exchanges are NOT
        reused across the separate actions a fixpoint loop issues, so an
        unpersisted static side would be re-scanned (parquet decode, derived
        joins and all) and re-broadcast every iteration. The persisted frame
        makes the per-iteration rebroadcast a cache read.

        TINY statics go one step further (local_static_max_bytes): collected
        once into a JVM-side LocalRelation, whose BroadcastExchange builds
        driver-locally — the per-iteration rebroadcast then launches NO job
        at all (a driver loop otherwise pays one broadcast-build job per
        static per iteration).

        Under _schema_probe the frame passes through untouched: a plan
        built only for its schema must not persist or collect anything."""
        if self._plain_statics:
            return df
        key = id(df._jdf)
        if key not in self._persisted_statics:
            self._persisted_statics[key] = df.persist()
        df = self._persisted_statics[key]
        if not self.config.broadcast_static_side:
            return df
        # the same bounded-probe estimate as _make_static_shuffle (memoized
        # for persisted statics): the hint must AGREE with its decision —
        # auto-broadcast (ON in the loop, see _aqe_off) cannot size an
        # RDD-backed static (Long.MaxValue stats), so unhinted it would
        # degrade to an UN-pre-shuffled sort-merge join re-exchanging the
        # candidate chain every iteration (and breaking the pivot store's
        # zero-exchange property)
        size = self._estimated_bytes(df, self.config.broadcast_max_bytes)
        if size is not None:
            gate = self.config.local_static_max_bytes
            if gate > 0 and size <= gate:
                local = self._collect_local_static(key, df)
                if local is not None:
                    return F.broadcast(local)
            return F.broadcast(df)
        return df

    def _collect_local_static(self, key: int, df: DataFrame):
        """LocalRelation copy of a tiny static, collected once per context.

        The collect is bounded (limit gate-rows + 1, so a lying Catalyst
        under-estimate cannot pull an unbounded frame onto the driver) and
        stays in the JVM end-to-end: collectAsList returns a Java list
        reference, SparkSession.createDataFrame(List[Row], schema) builds
        the LocalRelation from it — no rows cross py4j. Returns None (and
        memoizes the refusal) when the frame is over the gate or anything
        about the round trip fails."""
        cached = self._collected_statics.get(key)
        if cached is not None:
            return cached or None
        row_bytes = 8 + sum(
            self._TYPE_BYTES.get(f.dataType.simpleString(), 24)
            for f in df.schema.fields
        )
        max_rows = max(1, self.config.local_static_max_bytes // row_bytes)
        try:
            jrows = df.limit(max_rows + 1)._jdf.collectAsList()
            if jrows.size() > max_rows:
                self._collected_statics[key] = False
                return None
            local = DataFrame(
                self.spark._jsparkSession.createDataFrame(
                    jrows, df._jdf.schema()
                ),
                self.spark,
            )
            # NULL-FREE statics get a non-nullable schema: join planning
            # infers isnotnull(key) on the build side, and a Filter over
            # LocalTableScan forces the broadcast build through
            # execute().collect() — a real job over a parallelized copy of
            # the rows, once per iteration. Non-nullable attributes fold
            # the inferred filter away, the build side stays a bare
            # LocalTableScan, and executeCollect serves the broadcast from
            # the driver with NO job. The null probe is job-free too:
            # ConvertToLocalRelation evaluates the filter at optimize time.
            if _plan_is_empty(local.where(_has_null_expr(local.columns))):
                jschema = self.spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
                    T.StructType(
                        [
                            T.StructField(f.name, f.dataType, False)
                            for f in df.schema.fields
                        ]
                    ).json()
                )
                local = DataFrame(
                    self.spark._jsparkSession.createDataFrame(jrows, jschema),
                    self.spark,
                )
        except Exception:
            self._collected_statics[key] = False
            return None
        self._collected_statics[key] = local
        return local

    def _make_static_shuffle(self, static_df, clique_preds):
        """RuleCompiler.static_shuffle hook for one fixpoint's step compiles.

        For a static side ABOVE the broadcast gate, returns a persisted copy
        repartitioned AND sorted on the actual join-key positions — the
        Spark-frame analogue of the reference's once-built hashed relation
        (ShuffleHashJoin.scala:35-88: build once, re-probe per iteration).
        The cached InMemoryTableScan reports that hash partitioning and
        ordering, so every later iteration's sort-merge join exchanges and
        sorts ONLY the delta side; without it the (persisted but
        unpartitioned) static re-shuffles and re-sorts each iteration.
        Returns None for clique predicates (delta/all sides) and statics
        small enough to broadcast — broadcast beats co-partitioning there."""

        def hook(pred, positions):
            if pred in clique_preds or self._plain_statics:
                return None
            df = static_df(pred)
            # bounded-probe estimate, not raw Catalyst stats: RDD-backed
            # in-memory relations report Long.MaxValue, which would route
            # every register_data graph through the sort-merge path (and
            # break the pivot-partitioning chain a broadcast join preserves)
            size = self._estimated_bytes(df, self.config.broadcast_max_bytes)
            if self.config.broadcast_static_side and size is not None:
                return None
            ckey = (id(df._jdf), positions)
            if ckey not in self._shuffled_statics:
                n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
                cols = [df.columns[i] for i in positions]
                self._shuffled_statics[ckey] = (
                    df.repartition(n, *cols)
                    .sortWithinPartitions(*cols)
                    .persist()
                )
            return self._shuffled_statics[ckey]

        return hook

    # ---------------------------------------------- decomposable (GPS) path
    def _local_clique_shape(self, clique: Clique) -> str | None:
        """'linear' | 'nonlinear' | None for partition-local evaluation.

        linear: every recursive rule has exactly one clique atom — every
        derivation chain traces to ONE seed tuple, so seeds may be SLICED
        across tasks. nonlinear: some rule has several clique atoms —
        derivations combine tuples across seeds, so local evaluation is
        sound only with ALL seeds in one task (single slice). None:
        negation/sort/limit inside the recursion — no local mode."""
        any_rules = False
        nonlinear = False
        for pred in clique.preds:
            for rule in clique.recursive_rules[pred]:
                any_rules = True
                if len(self._rule_clique_occurrences(rule, clique)) != 1:
                    nonlinear = True
                for lit in rule.body:
                    if isinstance(lit, (SortSpec, LimitSpec)):
                        return None
                    if isinstance(lit, Atom) and lit.negated:
                        return None
        if not any_rules:
            return None
        return "nonlinear" if nonlinear else "linear"

    def _linear_clique_shape(self, clique: Clique) -> bool:
        return self._local_clique_shape(clique) == "linear"

    def _clique_static_preds(self, clique: Clique) -> list:
        return sorted(
            {
                a.pred
                for pred in clique.preds
                for rule in clique.recursive_rules[pred]
                for a in rule.body_atoms
                if a.pred not in clique.preds
            }
        )

    @staticmethod
    def _clique_stable_positions(clique: Clique) -> set[int]:
        """Clique-level pivot positions (GeneralizedPivotSetInfo.scala:
        30-170 generalized to MUTUAL cliques): position i is stable when,
        in EVERY recursive rule of EVERY clique predicate, the head's i-th
        argument is a variable copied verbatim from the i-th argument of
        EVERY clique-predicate body atom — so a derivation never moves a
        tuple off its pivot partition even when it hops between the
        clique's predicates. For a single-predicate clique this equals
        _stable_positions. Positions range over the smallest clique
        arity."""
        arities = []
        for p in clique.preds:
            rules = clique.recursive_rules[p] or clique.exit_rules[p]
            if not rules:
                return set()
            arities.append(rules[0].head.arity)
        stable = set(range(min(arities)))
        for p in clique.preds:
            for rule in clique.recursive_rules[p]:
                for i in list(stable):
                    h = rule.head.args[i]
                    if not isinstance(h, Var):
                        stable.discard(i)
                        continue
                    for atom in rule.body_atoms:
                        if atom.pred not in clique.preds:
                            continue
                        a = atom.args[i]
                        if not (isinstance(a, Var) and a.name == h.name):
                            stable.discard(i)
                            break
        return stable

    def _decomposable_info(self, clique: Clique):
        """(pivot positions, static preds) when the clique admits PIVOT
        partition-local evaluation, else None.

        Conditions (GeneralizedPivotSetInfo.scala:30-170 in spirit): a
        single-predicate clique whose recursive rules are all linear, with a
        non-empty stable pivot set (head copies those positions verbatim
        from the recursive body atom — so derivations never change pivot
        values), and no negation/sort/limit inside the recursion."""
        if len(clique.preds) != 1 or not self._linear_clique_shape(clique):
            return None
        pred = clique.preds[0]
        stable = self._stable_positions(clique, pred)
        if not stable:
            return None
        return sorted(stable), self._clique_static_preds(clique)

    _TYPE_BYTES = {
        "tinyint": 1, "smallint": 2, "int": 4, "bigint": 8,
        "float": 4, "double": 8, "date": 4,
    }

    def _seed_gate(self, *schemas) -> int:
        """Effective row gate for local-tier seed fetches: the configured
        row knob capped by the broadcast byte budget over the widest
        fetched row (the chain-gate pattern, ADVICE r08) — wide string
        columns cannot make the bounded seed fetch unbounded in bytes."""
        width = max(
            8
            + sum(
                self._TYPE_BYTES.get(f.dataType.simpleString(), 24)
                for f in s.fields
            )
            for s in schemas
        )
        return min(
            self.config.local_seed_max_rows,
            self.config.broadcast_max_bytes // width,
        )

    def _estimated_bytes(self, df: DataFrame, limit: int) -> int | None:
        """Catalyst size estimate when it fits the budget; otherwise a
        BOUNDED row probe: limit(k+1).count() where k is the row budget, so
        deciding the strategy costs O(budget) rows even on a 100 TB input.
        The probe also covers stats that are unknown (RDD-backed in-memory
        relations report defaultSizeInBytes = Long.MaxValue) or
        OVER-estimated (join/union stats multiply children — a derived
        40k-row graph can report terabytes and would wrongly lose its local
        fast path). None = probed over budget. Driver-tier results carry
        their exact row count (local_eval._driver_result_df) — no probe.
        The estimate of a frame that outlives the goal — a registered
        relation or a persisted static — is memoized (_size_memo) until
        the next register/load_program/reset: its probe runs once, and
        every caller sees the same figure even after persisting the frame
        changes its Catalyst stats."""
        memo_key = (id(df), limit)
        hit = self._size_memo.get(memo_key)
        if hit is not None and hit[0] is df:
            return hit[1]
        out = self._probe_bytes(df, limit)
        if self._persisted_statics.get(id(df._jdf)) is df or any(
            df is r for r in self._relations.values()
        ):
            self._size_memo[memo_key] = (df, out)
        return out

    def _probe_bytes(self, df: DataFrame, limit: int) -> int | None:
        row_bytes = 8 + sum(
            self._TYPE_BYTES.get(f.dataType.simpleString(), 24)
            for f in df.schema.fields
        )
        known = getattr(df, "_bdlog_known_rows", None)
        if known is not None:
            size = known * row_bytes
            return size if size <= limit else None
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            size = -1
        if 0 <= size <= limit:
            return size
        max_rows = limit // row_bytes
        n = df.limit(max_rows + 1).count()
        return None if n > max_rows else n * row_bytes

    def _local_statics(self, static_preds: list) -> dict | None:
        """Resolve the recursion's static relations and size-gate them for
        driver collection + broadcast (same byte budget as broadcast joins);
        None when any side is unknown-sized or too big — caller falls back
        to the distributed loop."""
        limit = self.config.broadcast_max_bytes
        total = 0
        statics: dict[str, DataFrame] = {}
        for p in static_preds:
            df = self._pred_df(p)
            size = self._estimated_bytes(df, limit)
            if size is None:
                return None
            total += size
            if total > limit:
                return None
            statics[p] = df
        return statics

    @property
    def _growth(self):
        return (
            self.config.local_growth_factor,
            self.config.local_growth_floor,
        )

    def _eager_local(self, df: DataFrame):
        """Materialize a local-eval result NOW (eager localCheckpoint):
        the in-task growth bailout must surface here at build time, where
        the clique can still be rerouted to the spill-capable distributed
        fixpoint — at the user's action it would be an unrecoverable task
        failure. Returns None when the loop aborted on its growth budget;
        the result blocks are O(closure ≤ budget) and released when the
        caller drops the frame."""
        try:
            return df.localCheckpoint(eager=True)
        except Exception as e:
            if "LOCAL_EVAL_GROWTH_EXCEEDED" in str(e):
                return None
            raise

    def _driver_exit_pdf(
        self, rules, seed: DataFrame, bound=None,
        pre_aggregate: bool = False, distinct: bool = True,
    ):
        """Seed pdf via pandas evaluation of the exit rules, or None when
        the rules or their statics don't qualify (caller falls back to the
        bounded-fetch job). Exit bodies reference only statics, so when
        those pass the same byte gate the local path already applies, the
        seed is computable from the driver-resident frames — no job. The
        widened dtype target comes from the seed plan's limit(0) frame
        (folded to an empty LocalRelation — job-free)."""
        if not self.config.driver_local:
            return None
        for r in rules:
            for lit in r.body:
                if isinstance(lit, Atom):
                    if lit.negated:
                        return None
                elif not isinstance(lit, Comparison):
                    return None
        needed = sorted({a.pred for r in rules for a in r.body_atoms})
        sdfs = self._local_statics(needed)
        if sdfs is None:
            return None
        statics_pd = {
            p: _static_pd(df, self._statics_pd) for p, df in sdfs.items()
        }
        target = seed.limit(0).toPandas()
        try:
            return driver_exit_seed(
                rules, statics_pd, dict(target.dtypes), bound=bound,
                pre_aggregate=pre_aggregate, distinct=distinct,
            )
        except DatalogCompileError:
            # a rule feature the pandas evaluator lacks (e.g. arithmetic
            # inside an atom argument) — the Spark pipeline still serves it
            return None

    def _schema_probe(self, step, *args):
        """``step(*args)`` built only for its output schema (the local tiers
        widen their seeds to it, _widen_seed). The static sides pass through
        plain: _maybe_broadcast would persist each static and collect the
        tiny ones into LocalRelations — one job per static for a plan that
        is thrown away (every magic-set goal collected its demand set)."""
        prev, self._plain_statics = self._plain_statics, True
        try:
            return step(*args)
        finally:
            self._plain_statics = prev

    def _local_seed_pdf(self, rules, exit_df, seed, max_rows, **exit_kw):
        """A local tier's seed as pandas: pandas evaluation of the exit
        rules over driver-resident statics first (_driver_exit_pdf, no
        job), else ONE bounded fetch of at most ``max_rows + 1`` rows —
        filling the limit always trips the caller's gate, so a surviving
        frame of at most ``max_rows`` rows is provably the complete seed.
        Restricted exits (demand semi-join, ``_bdlog_no_driver_exit``)
        skip the pandas shortcut: it re-evaluates the RULES, bypassing the
        semi-join frame. Provably empty exits (``_bdlog_empty_exit``)
        fold to a job-free limit(0) fetch that keeps the widened dtypes."""
        if getattr(exit_df, "_bdlog_empty_exit", False):
            return seed.limit(0).toPandas()
        pdf = (
            None
            if getattr(exit_df, "_bdlog_no_driver_exit", False)
            else self._driver_exit_pdf(rules, seed, **exit_kw)
        )
        if pdf is None:
            pdf = seed.limit(max_rows + 1).toPandas()
        return pdf

    def _on_driver(self, rows: int, tasks: int) -> bool:
        """The driver-tier rule for set-semantics local fixpoints: run on
        the driver exactly when the in-task tier would schedule ONE task
        for this seed (``tasks``, from the tier's own sizing) — the same
        PSN loop under the same growth budget, minus the job launch, the
        broadcast and the Arrow round trip. driver_seed_max_rows keeps
        whole-relation seeds in a task (see EngineConfig)."""
        return (
            self.config.driver_local
            and tasks == 1
            and rows <= self.config.driver_seed_max_rows
        )

    def _try_local_seminaive(
        self, clique: Clique, exit_dfs: dict, step, seed_filter: dict | None = None
    ):
        """pred -> DataFrame via a local evaluation mode, or None.

        Mode 1 (pivot): single-pred clique with a stable pivot — partition
        the seed by pivot, unbounded seed size. Mode 2 (seed-broadcast):
        any linear clique whose TOTAL seed is small — slice seeds
        round-robin, rerun per slice, re-distinct globally. Mode 3
        (non-linear seed-broadcast): small-seed non-linear clique — the
        whole fixpoint runs in ONE task (slicing is unsound when a
        derivation combines tuples from different seeds' closures), the
        same single-job trade the mixed-clique path makes
        (FixedPointResultTask.scala:44-106 covers these too).

        ONE-TASK RULE (_on_driver): whichever mode applies, the seed is
        computed on the driver first (job-free pandas exit evaluation,
        else a bounded fetch) and the mode's own sizing is asked how many
        tasks it would schedule for that exact row count — pivot_tasks for
        mode 1, seed_slices for mode 2, one for mode 3. One task runs
        driver_seminaive instead: a bound goal's few-row seed (``tc(c,B)``)
        launches no fixpoint job. A growth abort there returns None — the
        distributed fallback; an in-task retry would run the identical loop
        under the same budget."""
        shape = self._local_clique_shape(clique)
        if shape is None:
            return None
        statics = self._local_statics(self._clique_static_preds(clique))
        if statics is None:
            return None
        rules_by_pred = {p: clique.recursive_rules[p] for p in clique.preds}

        def on_driver(seeds):
            return driver_seminaive(
                self.spark,
                seeds,
                rules_by_pred,
                clique.preds,
                statics,
                pd_cache=self._statics_pd,
                growth=self._growth,
            )

        info = self._decomposable_info(clique) if shape == "linear" else None
        if info is not None:
            pivot_idx, _ = info
            pred = clique.preds[0]
            exit_df = exit_dfs[pred]
            probe = self._schema_probe(
                step, {pred: exit_df}, {pred: exit_df}
            ).get(pred)
            seed = _widen_seed(exit_df.distinct(), probe)
            if self.config.driver_local:
                # fetch no more rows than already make two tasks
                one_task = pivot_one_task_rows(self.spark)
                max_rows = self.config.driver_seed_max_rows
                if one_task is not None:
                    max_rows = min(max_rows, one_task)
                pdf = self._local_seed_pdf(
                    clique.exit_rules[pred], exit_df, seed, max_rows,
                    bound=(seed_filter or {}).get(pred),
                )
                tasks = pivot_tasks(self.spark, len(pdf) * ROW_BYTES)
                if self._on_driver(len(pdf), tasks):
                    return on_driver({pred: (pdf, seed.schema)})
            out = local_seminaive_fixpoint(
                self.spark,
                seed,
                clique.recursive_rules[pred],
                clique.preds,
                statics,
                [seed.columns[i] for i in pivot_idx],
                growth=self._growth,
                pd_cache=self._statics_pd,
                bc_cache=self._statics_bc,
            )
            mat = self._eager_local(out)
            return None if mat is None else {pred: mat}

        # seed-broadcast mode: bounded-probe the total seed size first
        max_rows = self._seed_gate(*(df.schema for df in exit_dfs.values()))
        probes = self._schema_probe(step, exit_dfs, exit_dfs)
        seeds: dict[str, tuple] = {}
        total = 0
        for pred in clique.preds:
            seed = _widen_seed(exit_dfs[pred].distinct(), probes.get(pred))
            pdf = self._local_seed_pdf(
                clique.exit_rules[pred], exit_dfs[pred], seed, max_rows - total,
                bound=(seed_filter or {}).get(pred),
            )
            total += len(pdf)
            if total > max_rows:
                return None
            seeds[pred] = (pdf, seed.schema)
        tasks = 1 if shape == "nonlinear" else seed_slices(self.spark, total)
        if self._on_driver(total, tasks):
            return on_driver(seeds)
        # several tasks: the slices run in parallel, and that beats one
        # driver loop — measured head-to-head (2730-seed demand clique,
        # sf0.1), 32 slices ran ~2× faster even counting the broadcast.
        # Every pred's mapInPandas runs the SAME multi-predicate in-task
        # loop over the same seeds/statics and just projects a different
        # pred out, so ONE eager materialization proves the growth budget
        # for the whole clique; the remaining preds stay lazy (unqueried
        # preds never run — their identical loop cannot newly exceed the
        # budget the probe pred stayed under).
        # one (seeds, statics) broadcast for the whole clique — the per-pred
        # frames differ only in which pred they project out
        bc = broadcast_seed_statics(
            self.spark, {p: pdf for p, (pdf, _) in seeds.items()}, statics,
            track=self._broadcasts, pd_cache=self._statics_pd,
        )

        def build(pred: str) -> DataFrame:
            return seed_broadcast_seminaive(
                self.spark,
                seeds,
                pred,
                rules_by_pred,
                clique.preds,
                statics,
                num_slices=1 if shape == "nonlinear" else None,
                track=self._broadcasts,
                growth=self._growth,
                bc=bc,
            )

        result = {}
        for i, pred in enumerate(clique.preds):
            if i == 0:
                mat = self._eager_local(build(pred))
                if mat is None:
                    return None
                result[pred] = mat
            else:
                # deferred: even a LAZY localCheckpoint pays a full physical
                # planning pass (it wraps the plan's RDD), so unqueried
                # preds cache a thunk instead — _resolve_cached builds the
                # frame on first real use, never for preds nobody reads
                result[pred] = (
                    lambda pred=pred: build(pred).localCheckpoint(eager=False)
                )
        return result

    def _try_local_monotonic(
        self, clique: Clique, exit_df: DataFrame, step, key_cols, value_col,
        func, bound=None, no_driver_exit=False,
    ):
        shape = self._local_clique_shape(clique)
        if shape is None:
            return None
        statics = self._local_statics(self._clique_static_preds(clique))
        if statics is None:
            return None
        pred = clique.preds[0]
        probe = self._schema_probe(step, exit_df, exit_df)
        seed = _widen_seed(exit_df, probe)

        info = self._decomposable_info(clique) if shape == "linear" else None
        if info is not None:
            pivot_idx, _ = info
            out = local_monotonic_fixpoint(
                self.spark,
                seed,
                clique.recursive_rules[pred],
                clique.preds,
                statics,
                [seed.columns[i] for i in pivot_idx],
                key_cols,
                value_col,
                func,
                growth=self._growth,
                pd_cache=self._statics_pd,
                bc_cache=self._statics_bc,
            )
            return self._eager_local(out)

        # seed-broadcast: the seed is the PRE-AGGREGATE contribution stream.
        # One bounded fetch gates AND collects (a full pdf trips the gate,
        # so a surviving pdf is the complete seed — no separate count job)
        max_rows = self._seed_gate(seed.schema)
        # pandas exit evaluation first (see _driver_exit_pdf): the
        # monotonic contribution stream keeps duplicates (no distinct in
        # this path's Spark pipeline either)
        seed_pd = (
            None
            if no_driver_exit
            else self._driver_exit_pdf(
                clique.exit_rules[pred], seed, bound=bound,
                pre_aggregate=True, distinct=False,
            )
        )
        if seed_pd is None:
            seed_pd = seed.limit(max_rows + 1).toPandas()
        if len(seed_pd) > max_rows:
            return None
        # NO driver tier here, deliberately: a monotonic fixpoint's result
        # is key-space-sized (≈ the static graph, e.g. one row per vertex
        # for SSSP) regardless of how small the seed is, so the driver-side
        # result materialization always costs more than the one job it
        # saves (measured: dl_sssp 0.93 → 1.29 s at sf0.1, same shape at
        # sf1). The demand-bounded wins belong to set-semantics and mixed
        # cliques; monotonic keeps the in-task loop (its exit seed still
        # evaluates in pandas above — that part is job-free either way).
        out = seed_broadcast_monotonic(
            self.spark,
            seed_pd,
            seed.schema,
            clique.recursive_rules[pred],
            clique.preds,
            statics,
            key_cols,
            value_col,
            func,
            # non-linear: a derivation combines tuples across seeds, so
            # the whole fixpoint must see every seed in one task
            num_slices=1 if shape == "nonlinear" else None,
            track=self._broadcasts,
            growth=self._growth,
            pd_cache=self._statics_pd,
        )
        return self._eager_local(out)

    def _compute_clique(self, clique: Clique) -> None:
        if clique.mixed:
            self._compute_mixed_clique(clique)
        elif clique.monotonic:
            self._compute_monotonic_clique(clique)
        else:
            self._compute_seminaive_clique(clique)

    def _compute_mixed_clique(
        self,
        clique: Clique,
        seed_filter: dict | None = None,
        exit_restrict: dict | None = None,
    ) -> dict:
        """Mixed set + monotonic-aggregate clique (incl. mcount/msum) via
        fixpoint_mixed — the generalization the reference declares but never
        implements (AggregateSetRDD.scala:146-148 "TODO implement
        MCOUNT/MSUM"; the commented-out Attend program,
        AggregatesInRecursionQuerySuite.scala:97-142).

        seed_filter (pred -> [(position, value)]): restrict that pred's
        exit contribution stream for a bound goal on a STABLE group-key
        position (_bound_aggregate_df) — goal-specific, NOT cached.

        exit_restrict (pred -> [(position, demand_df)]): semi-join the
        contribution stream against a demand frame — the chain-restricted
        tier (_bound_monotonic_chain_df, which serves mixed cliques too).
        Goal-specific, uncached; restricted exits skip the pandas
        driver-exit shortcut (it re-evaluates the rules, bypassing the
        semi-join)."""
        clique_set = set(clique.preds)
        statics: dict[str, DataFrame] = {}

        def static_df(p: str) -> DataFrame:
            if p not in statics:
                statics[p] = self._pred_df(p)
            return statics[p]

        agg_specs: dict[str, AggSpec] = {}
        for pred, (pos, func) in clique.agg_info.items():
            arity = self.program.rules_for(pred)[0].head.arity
            names = canon_cols(arity)
            agg_specs[pred] = AggSpec(
                key_cols=[n for i, n in enumerate(names) if i != pos],
                value_col=names[pos],
                func=func,
                out_cols=names,
            )

        def project(rc: RuleCompiler, rule: Rule, body) -> DataFrame:
            # agg preds exchange PRE-AGGREGATE contribution streams with the
            # fixpoint; plain preds exchange result tuples
            if rule.head.pred in agg_specs:
                return rc.pre_aggregate_projection(rule, body)
            return rc.project_head(rule, body, distinct=False)

        exit_dfs: dict[str, DataFrame] = {}
        for pred in clique.preds:
            dfs = []
            for rule in clique.exit_rules[pred]:
                rc = RuleCompiler(self.spark)
                body = rc.compile_body(rule, lambda p, occ: static_df(p))
                dfs.append(project(rc, rule, body))
            if dfs:
                exit_df = union_all(dfs)
                for pos, value in (seed_filter or {}).get(pred, []):
                    exit_df = exit_df.filter(
                        F.col(exit_df.columns[pos]) == F.lit(value)
                    )
                for pos, demand in (exit_restrict or {}).get(pred, []):
                    # leak-free size-gated broadcast semi-join (see the
                    # seminaive exit_restrict note)
                    dem = demand.select(
                        F.col(demand.columns[0]).alias("__demand")
                    )
                    # the driver-BFS demand frame carries its exact row
                    # count — re-tag the selected frame or the broadcast
                    # decision below pays a stats/count probe (ADVICE r09)
                    dem._bdlog_known_rows = getattr(
                        demand, "_bdlog_known_rows", None
                    )
                    if self.config.broadcast_static_side and (
                        self._estimated_bytes(
                            dem, self.config.broadcast_max_bytes
                        )
                        is not None
                    ):
                        dem = F.broadcast(dem)
                    exit_df = exit_df.join(
                        dem,
                        exit_df[exit_df.columns[pos]] == dem["__demand"],
                        "left_semi",
                    )
                # gate on THIS pred having a restriction: an unrestricted
                # pred in the same clique keeps its pandas driver-exit
                # shortcut (ADVICE r09; callers are single-pred today)
                if (exit_restrict or {}).get(pred):
                    exit_df._bdlog_no_driver_exit = True
                exit_dfs[pred] = exit_df
            else:
                arity = self.program.rules_for(pred)[0].head.arity
                schema = T.StructType(
                    [T.StructField(c, T.IntegerType(), True) for c in canon_cols(arity)]
                )
                empty = self.spark.createDataFrame([], schema)
                # no exit rules → local-eval skips the seed-fetch job
                empty._bdlog_empty_exit = True
                exit_dfs[pred] = empty

        shuffle_hook = self._make_static_shuffle(static_df, clique_set)

        def step(all_dfs: dict, delta_dfs: dict) -> dict:
            cands: dict[str, DataFrame] = {}
            for pred in clique.preds:
                variants: list[DataFrame] = []
                for rule in clique.recursive_rules[pred]:
                    occs = self._rule_clique_occurrences(rule, clique)
                    for j in occs:
                        def rel(p: str, occ, j=j):
                            if p in clique_set:
                                # agg preds read the running aggregate TABLE
                                # (AggregateRelation, relations.scala:50-57):
                                # delta = changed groups, all = full table
                                return delta_dfs[p] if occ == j else all_dfs[p]
                            return self._maybe_broadcast(static_df(p))

                        rc = RuleCompiler(self.spark)
                        rc.static_shuffle = shuffle_hook
                        body = rc.compile_body(rule, rel)
                        variants.append(project(rc, rule, body))
                cands[pred] = union_all(variants) if variants else None
            return cands

        goal_specific = seed_filter is not None or exit_restrict is not None
        if self.config.decomposable_local:
            local = self._try_local_mixed(
                clique, exit_dfs, step, agg_specs, seed_filter=seed_filter
            )
            if local is not None:
                if not goal_specific:
                    self._cache.update(local)
                return local

        results = fixpoint_mixed(exit_dfs, step, agg_specs, self.config.fixpoint)
        if not goal_specific:
            for pred, df in results.items():
                self._cache[pred] = df
        return results

    def _mixed_out_schema(self, seed_schema, spec) -> T.StructType:
        """Schema of a mixed-clique result table: the (widened) contribution
        schema with the value column retyped per aggregate (mcount → long;
        msum → long for integral contributions, double otherwise)."""
        if spec is None:
            return seed_schema
        fields = []
        for f in seed_schema.fields:
            t = f.dataType
            if f.name == spec.value_col:
                if spec.func == "mcount":
                    t = T.LongType()
                elif spec.func == "msum":
                    t = (
                        T.DoubleType()
                        if t.simpleString() in ("float", "double")
                        else T.LongType()
                    )
            fields.append(T.StructField(f.name, t, True))
        return T.StructType(fields)

    def _try_local_mixed(
        self, clique: Clique, exit_dfs: dict, step, agg_specs,
        seed_filter: dict | None = None,
    ):
        """Single-task local evaluation of a small-seed mixed clique (no
        slicing — additive thresholds need global counts; see
        seed_broadcast_mixed). None when the shape/size gates fail.
        Non-linear rules are fine here: the whole fixpoint already runs in
        one task, and the local loop expands per-occurrence variants."""
        if self._local_clique_shape(clique) is None:
            return None
        statics = self._local_statics(self._clique_static_preds(clique))
        if statics is None:
            return None
        max_rows = self._seed_gate(*(df.schema for df in exit_dfs.values()))
        probes = self._schema_probe(step, exit_dfs, exit_dfs)
        seeds_pd: dict = {}
        schemas: dict = {}
        total = 0
        for pred in clique.preds:
            seed = _widen_seed(exit_dfs[pred].distinct(), probes.get(pred))
            # agg preds project pre-aggregate contributions, and the
            # distinct mirrors this path's Spark pipeline (the loop keeps
            # distinct support sets, so dedup here is semantics-preserving)
            pdf = self._local_seed_pdf(
                clique.exit_rules[pred], exit_dfs[pred], seed, max_rows - total,
                bound=(seed_filter or {}).get(pred),
                pre_aggregate=pred in agg_specs,
            )
            total += len(pdf)
            if total > max_rows:
                return None
            seeds_pd[pred] = pdf
            schemas[pred] = seed.schema
        rules_by_pred = {p: clique.recursive_rules[p] for p in clique.preds}
        # mixed cliques always run ONE task (global thresholds — no
        # slicing), so the driver tier applies unconditionally
        if self.config.driver_local:
            return driver_mixed(
                self.spark,
                seeds_pd,
                {
                    p: self._mixed_out_schema(schemas[p], agg_specs.get(p))
                    for p in clique.preds
                },
                rules_by_pred,
                clique.preds,
                statics,
                agg_specs,
                pd_cache=self._statics_pd,
                growth=self._growth,
            )
        # one eager pred proves the growth budget for the whole clique
        # (each pred runs the identical in-task loop — see the seminaive
        # seed-broadcast note); the rest stay lazy so unqueried preds
        # never execute
        # one (seeds, statics) broadcast for the whole clique (see the
        # seminaive loop)
        bc = broadcast_seed_statics(
            self.spark, seeds_pd, statics, track=self._broadcasts,
            pd_cache=self._statics_pd,
        )

        def build(pred: str) -> DataFrame:
            out_schema = self._mixed_out_schema(schemas[pred], agg_specs.get(pred))
            # job-free memoized probe: the RDD-backed empty-frame toPandas
            # this replaces scheduled defaultParallelism empty tasks
            out_dtypes = schema_pd_dtypes(self.spark, out_schema)
            return seed_broadcast_mixed(
                self.spark,
                seeds_pd,
                pred,
                out_schema,
                out_dtypes,
                rules_by_pred,
                set(clique.preds),
                statics,
                agg_specs,
                track=self._broadcasts,
                growth=self._growth,
                bc=bc,
            )

        out: dict = {}
        for i, pred in enumerate(clique.preds):
            if i == 0:
                mat = self._eager_local(build(pred))
                if mat is None:
                    return None
                out[pred] = mat
            else:
                # deferred like the seminaive path: unqueried preds cache a
                # thunk; _resolve_cached pays the planning pass only when a
                # consumer actually reads the predicate
                out[pred] = lambda pred=pred: build(pred).localCheckpoint(eager=False)
        return out

    def _compute_seminaive_clique(
        self,
        clique: Clique,
        seed_filter: dict | None = None,
        exit_restrict: dict | None = None,
    ) -> dict:
        """Recursion / MutualRecursion via PSN
        (Recursion.scala:120-178 loop algebra).

        seed_filter (pred -> [(position, value)]): restrict the exit-rule
        seeds for a bound goal form; the results are goal-specific and are
        NOT cached on the context.

        exit_restrict (pred -> [(position, demand_df)]): semi-join each
        pred's exit output against a single-column demand frame (the
        chain-restricted fallback, _demand_chain_fallback) — also
        goal-specific, also uncached. Restricted exits skip the pandas
        driver-exit shortcut (it re-evaluates rules, bypassing the
        semi-join); the bounded-fetch path reads the restricted frame."""
        clique_set = set(clique.preds)

        # resolve static (non-clique) dependencies first, outside the loop
        statics: dict[str, DataFrame] = {}

        def static_df(p: str) -> DataFrame:
            if p not in statics:
                df = self._pred_df(p)
                statics[p] = df
            return statics[p]

        exit_dfs: dict[str, DataFrame] = {}
        for pred in clique.preds:
            dfs = []
            for rule in clique.exit_rules[pred]:
                rc = RuleCompiler(self.spark)
                body = rc.compile_body(rule, lambda p, occ: static_df(p))
                dfs.append(rc.project_head(rule, body, distinct=False))
            if dfs:
                exit_df = union_all(dfs)
                for pos, value in (seed_filter or {}).get(pred, []):
                    exit_df = exit_df.filter(
                        F.col(exit_df.columns[pos]) == F.lit(value)
                    )
                for pos, demand in (exit_restrict or {}).get(pred, []):
                    # goal-specific frame: do NOT route through
                    # _maybe_broadcast — its persist cache is keyed by
                    # id(jdf) and only cleared on reset(), so repeated
                    # bound-goal queries on a long-lived context would
                    # leak one persisted frame each. A plain size-gated
                    # broadcast hint gives the same join plan leak-free
                    # (the frame is either a driver-local BFS result —
                    # LocalRelation, stats exact — or an already
                    # materialized fixpoint result).
                    dem = demand.select(
                        F.col(demand.columns[0]).alias("__demand")
                    )
                    # exact-count tag survives the select (ADVICE r09)
                    dem._bdlog_known_rows = getattr(
                        demand, "_bdlog_known_rows", None
                    )
                    if self.config.broadcast_static_side and (
                        self._estimated_bytes(
                            dem, self.config.broadcast_max_bytes
                        )
                        is not None
                    ):
                        dem = F.broadcast(dem)
                    exit_df = exit_df.join(
                        dem,
                        exit_df[exit_df.columns[pos]] == dem["__demand"],
                        "left_semi",
                    )
                # per-pred gate: unrestricted preds keep the driver-exit
                # shortcut (ADVICE r09)
                if (exit_restrict or {}).get(pred):
                    exit_df._bdlog_no_driver_exit = True
                exit_dfs[pred] = exit_df
            else:
                # mutual cliques may have exit rules on only some predicates
                # (MutualRecursion.scala:28-131); seed others empty using the
                # first recursive rule's head arity. The tag lets local-eval
                # skip the seed-fetch job for provably-empty seeds.
                arity = self.program.rules_for(pred)[0].head.arity
                schema = T.StructType(
                    [T.StructField(c, T.IntegerType(), True) for c in canon_cols(arity)]
                )
                empty = self.spark.createDataFrame([], schema)
                empty._bdlog_empty_exit = True
                exit_dfs[pred] = empty

        shuffle_hook = self._make_static_shuffle(static_df, clique_set)

        set_cols = {p: list(exit_dfs[p].columns) for p in clique.preds}

        def step(all_dfs: dict, delta_dfs: dict) -> dict:
            # segment-distributed S-joins: when the loop stores S as
            # partitioned segments (_SegmentViews), a non-linear variant's
            # accumulated-set occurrence joins each stored segment in place
            # (segments pre-partitioned+sorted on the join columns) instead
            # of re-exchanging all of S every iteration — per-iteration
            # shuffle volume O(|Δ|), not O(|S|). The loop's plan probes
            # pass plain dicts and take the view() path below.
            seg_join = getattr(all_dfs, "join_segments", None)
            cands: dict[str, DataFrame] = {}
            for pred in clique.preds:
                variants: list[DataFrame] = []
                for rule in clique.recursive_rules[pred]:
                    occs = self._rule_clique_occurrences(rule, clique)
                    # semi-naive variants: one clique occurrence reads the
                    # delta, the others read the accumulated set — covers
                    # linear (1 variant) and non-linear (k variants) rules
                    # (Linear/NonLinearRecursiveRelation, relations.scala:28-57)
                    for j in occs:
                        others = [o for o in occs if o != j]
                        segs = d_rep = None
                        if seg_join is not None and len(others) == 1:
                            d_atom = rule.body_atoms[j]
                            o_atom = rule.body_atoms[others[0]]
                            d_vars = {
                                a.name
                                for a in d_atom.args
                                if isinstance(a, Var)
                            }
                            shared = [
                                (i, a.name)
                                for i, a in enumerate(o_atom.args)
                                if isinstance(a, Var) and a.name in d_vars
                            ]
                            if shared:
                                segs = seg_join(
                                    o_atom.pred,
                                    [set_cols[o_atom.pred][i] for i, _ in shared],
                                )
                                # the delta side pre-laid-out on ITS side of
                                # the same join keys (matching column order)
                                # — with both sides stored partitioned +
                                # sorted, each branch joins with no exchange
                                names = [v for _, v in shared]
                                d_pos = [
                                    next(
                                        i
                                        for i, a in enumerate(d_atom.args)
                                        if isinstance(a, Var) and a.name == v
                                    )
                                    for v in names
                                ]
                                d_rep = all_dfs.delta_on(
                                    d_atom.pred,
                                    [set_cols[d_atom.pred][i] for i in d_pos],
                                )
                        if segs is not None:
                            # S empty -> no variant at all (join with ∅ = ∅)
                            for s in segs:
                                def rel(p: str, occ, j=j, s=s, d=d_rep):
                                    if p in clique_set:
                                        if occ == j:
                                            return (
                                                d
                                                if d is not None
                                                else delta_dfs[p]
                                            )
                                        return s
                                    return self._maybe_broadcast(static_df(p))

                                rc = RuleCompiler(self.spark)
                                rc.static_shuffle = shuffle_hook
                                body = rc.compile_body(rule, rel)
                                variants.append(
                                    rc.project_head(rule, body, distinct=False)
                                )
                            continue

                        def rel(p: str, occ, j=j):
                            if p in clique_set:
                                if occ == j:
                                    return delta_dfs[p]
                                return all_dfs[p]
                            return self._maybe_broadcast(static_df(p))

                        rc = RuleCompiler(self.spark)
                        rc.static_shuffle = shuffle_hook
                        body = rc.compile_body(rule, rel)
                        variants.append(rc.project_head(rule, body, distinct=False))
                cands[pred] = union_all(variants) if variants else None
            return cands

        if self.config.decomposable_local:
            local = self._try_local_seminaive(
                clique, exit_dfs, step, seed_filter=seed_filter
            )
            if local is not None:
                if seed_filter is None and exit_restrict is None:
                    self._cache.update(local)
                return local

        # a mixed magic⇄guarded clique reaching the distributed loop means
        # the local tiers declined AFTER the upfront gate passed (growth
        # abort: the demanded slice outgrew the driver budget, e.g.
        # tc(5,B) at sf10 demands ~10M guarded pairs). The distributed
        # transformed program is the one shape measurements condemn —
        # bubble a decline so the caller answers with the unbound closure
        # instead (fallback ordering: local-transformed ≫ unbound-closure
        # ≫ distributed-transformed, BASELINE.md r07/r08).
        if getattr(self, "_magic_local_only", False):
            preds = list(clique.preds)
            if any(p.startswith("__magic_") for p in preds) and not all(
                p.startswith("__magic_") for p in preds
            ):
                raise _MagicLocalAbort(preds)

        # decomposable cliques hand their pivot to the distributed loop
        # too: the segmented stores partition every clique predicate's S on
        # the clique-stable pivot and (when each candidate chain preserves
        # it — probed on the physical plan) iterations run exchange-free,
        # the declarative form of the reference's GPS scheduling. Mutual
        # cliques qualify when the pivot survives hops between predicates
        # (_clique_stable_positions).
        pivots = None
        if self._linear_clique_shape(clique):
            stable = self._clique_stable_positions(clique)
            if stable:
                idx = sorted(stable)
                pivots = {
                    p: [exit_dfs[p].columns[i] for i in idx]
                    for p in clique.preds
                }
        results = fixpoint_seminaive(
            exit_dfs, step, self.config.fixpoint, pivot_cols=pivots
        )
        if seed_filter is None and exit_restrict is None:
            for pred, df in results.items():
                self._cache[pred] = df
        return results

    def _compute_monotonic_clique(
        self,
        clique: Clique,
        seed_filter: list | None = None,
        exit_restrict: list | None = None,
    ) -> DataFrame:
        """AggregateRecursion for mmin/mmax (AggregateRecursion.scala:26-178).

        seed_filter ([(position, value)]): restrict the exit-rule
        contribution stream for a bound goal on a STABLE group-key position
        (_bound_aggregate_df) — goal-specific, NOT cached. Every tier
        downstream (local pivot / seed-broadcast / distributed
        fixpoint_monotonic) sees only the restricted seed, so e.g.
        ``apsp(c,Y,D)`` runs a single-source fixpoint instead of the
        all-pairs closure + filter.

        exit_restrict ([(position, demand_df)]): semi-join the contribution
        stream against a single-column demand frame — the chain-restricted
        monotonic demand tier (_bound_monotonic_chain_df). Also
        goal-specific and uncached; restricted exits skip the pandas
        driver-exit shortcut (it re-evaluates the rules, bypassing the
        semi-join)."""
        pred = clique.preds[0]
        rules = self.program.rules_for(pred)
        shape = self._agg_shape(pred, rules)
        agg_positions = [(i, f) for i, f in shape if f is not None]
        if len(agg_positions) != 1:
            raise DatalogSemanticError(
                f"monotonic predicate {pred!r} must have exactly one mmin/mmax"
            )
        agg_pos, func = agg_positions[0]
        names = canon_cols(len(shape))
        key_cols = [names[i] for i, f in shape if f is None]
        value_col = names[agg_pos]

        statics: dict[str, DataFrame] = {}

        def static_df(p: str) -> DataFrame:
            if p not in statics:
                statics[p] = self._pred_df(p)
            return statics[p]

        exit_pre = []
        for rule in clique.exit_rules[pred]:
            rc = RuleCompiler(self.spark)
            body = rc.compile_body(rule, lambda p, occ: static_df(p))
            exit_pre.append(rc.pre_aggregate_projection(rule, body))
        if not exit_pre:
            raise DatalogSemanticError(
                f"monotonic clique {pred!r} has no exit rules"
            )
        exit_df = union_all(exit_pre)
        for pos, value in seed_filter or []:
            exit_df = exit_df.filter(F.col(names[pos]) == F.lit(value))
        no_driver_exit = False
        for pos, demand in exit_restrict or []:
            # size-gated broadcast hint without the persist cache — see the
            # seminaive exit_restrict note (goal-specific frame, leak-free)
            dem = demand.select(F.col(demand.columns[0]).alias("__demand"))
            # exact-count tag survives the select (ADVICE r09)
            dem._bdlog_known_rows = getattr(demand, "_bdlog_known_rows", None)
            if self.config.broadcast_static_side and (
                self._estimated_bytes(dem, self.config.broadcast_max_bytes)
                is not None
            ):
                dem = F.broadcast(dem)
            exit_df = exit_df.join(
                dem, exit_df[names[pos]] == dem["__demand"], "left_semi"
            )
            no_driver_exit = True

        shuffle_hook = self._make_static_shuffle(static_df, {pred})

        def step(all_df: DataFrame, delta_df: DataFrame) -> DataFrame:
            variants = []
            for rule in clique.recursive_rules[pred]:
                occs = self._rule_clique_occurrences(rule, clique)
                for j in occs:
                    def rel(p: str, occ, j=j):
                        if p == pred:
                            return delta_df if occ == j else all_df
                        return self._maybe_broadcast(static_df(p))

                    rc = RuleCompiler(self.spark)
                    rc.static_shuffle = shuffle_hook
                    body = rc.compile_body(rule, rel)
                    variants.append(rc.pre_aggregate_projection(rule, body))
            return union_all(variants) if variants else None

        goal_specific = seed_filter is not None or exit_restrict is not None
        if self.config.decomposable_local:
            local = self._try_local_monotonic(
                clique, exit_df, step, key_cols, value_col, func,
                bound=seed_filter, no_driver_exit=no_driver_exit,
            )
            if local is not None:
                out = local.select(*names)
                if not goal_specific:
                    self._cache[pred] = out
                return out

        result = fixpoint_monotonic(
            exit_df, step, key_cols, value_col, func, self.config.fixpoint
        )
        # present in declared argument order
        out = result.select(*names)
        if not goal_specific:
            self._cache[pred] = out
        return out
