"""Semi-naive fixpoint executors — the engine's core.

Re-creates the reference's recursion physical operators as idiomatic
driver-side DataFrame loops (SURVEY.md §7.3/§7.4). Two distributed PSN
loops remain, one per semantics:

* ``fixpoint_seminaive`` — Recursion / MutualRecursion
  (execution/recursion/Recursion.scala:30-228, MutualRecursion.scala:28-131):
  `Δ' = T_R(Δ) − S; S = S ∪ Δ'` with S held as co-partitioned sorted
  segments (_SegmentedSet), so the difference merge-scans S in place.
* ``fixpoint_mixed`` — AggregateRecursion (AggregateRecursion.scala:26-178 +
  AggregateSetRDDMinMaxPartition.scala:42-57) and cliques mixing set and
  aggregate predicates: keyed mmin/mmax/mcount/msum tables whose delta is
  the improved groups of one fused keyed aggregate, beside union-based set
  predicates. ``fixpoint_monotonic`` is a one-predicate wrapper over it.

The reference's SetRDD diff and single-job fixpoint scheduler exist to make
2016-Spark iteration fast; on modern Spark the equivalents are LEFT ANTI
join + localCheckpoint (lineage truncation == RDD.memoryCheckpoint,
core/.../rdd/RDD.scala:1580) + per-iteration persist/unpersist
(CachedRDDManager.scala:26-107 policy).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .semantics import DatalogSemanticError


@dataclass
class FixpointConfig:
    max_iterations: int = 100_000
    # storage level of the segmented set's null side store
    storage_level: StorageLevel = field(
        default_factory=lambda: StorageLevel.MEMORY_AND_DISK
    )
    # deltas below this row count are narrowed to `small_partitions` so each
    # per-iteration job schedules a handful of tasks instead of one per
    # shuffle partition — the dominant cost of late, tiny iterations. The
    # exact count is free: the loop already computes it to test convergence.
    # conservative: only convergence-tail deltas, where per-task scheduling
    # dominates; larger deltas keep full parallelism for the heavy step join
    small_delta_rows: int = 1_024
    small_partitions: int = 4
    # `S ∪ Δ` sums its parents' partition counts, so a 300-iteration
    # recursion would leave the accumulated set with hundreds of partitions
    # and every later anti-join scheduling that many tasks; repartition the
    # set whenever it exceeds this cap (0 = 2× the session's shuffle
    # partitions, resolved lazily)
    max_set_partitions: int = 0
    # compact the segment chain (union + one re-shuffle of S) when it grows
    # past this length: bounds plan depth and per-iteration merge fan-in,
    # amortizing the re-shuffle to |S|/max_segments per iteration
    max_segments: int = 8
    # null mode: the set's null-bearing rows are mirrored into a small side
    # store (a null-bearing candidate can only eqNullSafe-equal a
    # null-bearing stored row), so the null-safe anti joins ONE tiny frame
    # instead of every segment — broadcast while the store stays under
    # this row count, shuffled null-safe anti beyond it (adversarial
    # all-null inputs degrade instead of OOMing the driver/executors)
    null_broadcast_max_rows: int = 1 << 20
    # Size the segmented loop's exchange width to the DATA instead of the
    # session's shuffle-partition count (guide §2.2: fewer, larger
    # partitions). AQE is OFF inside the loop (see _aqe_off) so nothing
    # else coalesces it, and every per-iteration stage otherwise schedules
    # session-width tasks each writing a shuffle/checkpoint file — pure
    # fixed cost when deltas are far below one task's working size, both
    # in local mode and on a cluster running a small demand-restricted
    # slice. Width = clamp(ceil(seed_bytes / loop_partition_seed_bytes),
    # small_partitions, session shuffle partitions): production seeds hit
    # the session cap, so cluster behavior at scale is unchanged. The
    # 8 MB seed-byte target leaves ~8-32x growth headroom inside the
    # usual 64-256 MB/task band for closures that outgrow their seed;
    # seeds with unknown stats (RDD-backed registers) keep the cap.
    loop_partition_seed_bytes: int = 8 << 20


def _truncate_marked_ancestors(dfs) -> None:
    """Thread-local switch so every checkpoint-marked RDD in a job's
    dependency graph truncates, not just the job's own RDD.

    RDD.doCheckpoint stops descending at the first RDD with checkpoint data
    (core/.../rdd/RDD.scala), so with the default setting only the delta —
    the frame the convergence-count job runs on — ever truncates; the
    accumulated set's marked RDD keeps full lineage and a few hundred
    iterations in, task serialization dies with StackOverflowError.
    build_session sets this too; done here defensively for sessions the
    library didn't create."""
    if isinstance(dfs, dict):
        if not dfs:
            raise ValueError("fixpoint requires at least one seed predicate")
        df = next(iter(dfs.values()))
    else:
        df = dfs
    df.sparkSession.sparkContext.setLocalProperty(
        "spark.checkpoint.checkpointAllMarkedAncestors", "true"
    )


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Truncate lineage and return (df, row_count) forcing evaluation once.

    localCheckpoint every iteration truncates lineage; without it plans
    grow unboundedly (reference README.md:32). The checkpoint is LAZY: the
    convergence-test count() is the action that materializes the
    checkpoint blocks, so each delta costs one Spark job, not
    checkpoint-job + count-job."""
    df = df.localCheckpoint(eager=False)
    return df, df.count()


def _has_null_expr(cols):
    from functools import reduce

    return reduce(lambda a, b: a | b, [F.col(c).isNull() for c in cols])


def _count_and_nulls(df: DataFrame) -> tuple[int, int]:
    """(row count, null-bearing-row count) in ONE job — the count is the
    loop's materializing action, so null detection rides along for free.
    The null count (not just a flag) lets the segmented store bound its
    null side store's broadcast decision.

    Counted through observe() + a noop write, not agg().first(): the
    metrics ride the materializing job as accumulators, so the action is
    ONE stage (the width of the frame) instead of partial-agg → exchange →
    final-agg — a fixpoint pays this action every iteration, and the extra
    single-task stage plus the first() collect were pure per-iteration
    fixed cost.

    Retry invariant: observe() metrics are accumulators, and a retried
    task re-adds its partition's contribution, so both counts can only
    OVER-count, never under-count. A spurious n > 0 costs one extra
    iteration whose delta is empty (the loop then stops); a spurious null
    count only switches the predicate to the null-safe anti, which is
    correct for null-free rows too. Neither changes the answer.

    NULL-bearing tuples are outside the DeAL data model (the reference's
    loader cannot produce them, SURVEY §1.2) but CAN arrive through
    register()'d frames whose nullable columns a rule head projects; the
    `=`-equality anti-join never matches such a tuple against the set, so
    without detection a re-derived null tuple re-enters the delta every
    time — duplicate rows in S (set semantics broken) and, for pass-through
    columns on cyclic graphs, a live-locked fixpoint."""
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("__n"),
        F.sum(_has_null_expr(df.columns).cast("int")).alias("__hn"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return int(m["__n"]), int(m["__hn"] or 0)


def _anti_null_safe(cand: DataFrame, s: DataFrame, cols) -> DataFrame:
    """Set difference that treats NULL = NULL (eqNullSafe join keys). Costs
    an exchange where the `=` form could merge-scan in place, so callers
    engage it only after _count_and_nulls has seen a null-bearing row."""
    from functools import reduce
    from operator import and_

    cd, sd = cand.alias("__c"), s.alias("__s")
    cond = reduce(
        and_,
        [F.col(f"__c.{c}").eqNullSafe(F.col(f"__s.{c}")) for c in cols],
    )
    return cd.join(sd, on=cond, how="left_anti").select(*cols)


def _materialize_nd(df: DataFrame) -> tuple[DataFrame, int, int]:
    """_materialize + null detection in the same single job."""
    df = df.localCheckpoint(eager=False)
    n, hn = _count_and_nulls(df)
    return df, n, hn


def _truncate(df: DataFrame) -> DataFrame:
    """Lineage truncation only — no count job (for the accumulated set,
    whose cardinality the loop never branches on). Lazy: materializes at
    its first downstream use; a final-iteration set that is returned
    untouched defers to the caller's first action."""
    out = df.localCheckpoint(eager=False)
    if hasattr(df, "_bdlog_parts"):
        # localCheckpoint preserves partitioning; carry the tracked
        # count so _union_capped never probes .rdd on the hot path
        out._bdlog_parts = df._bdlog_parts
    return out


def _leaf_rdds(frames):
    """The JVM RDDs at the LogicalRDD leaves of ``frames``' analyzed plans.
    Best-effort: frames whose plan cannot be walked, and leaves without an
    rdd() (LocalRelations: driver-tier results), yield nothing."""
    for df in frames:
        try:
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        except Exception:
            continue
        for i in range(leaves.size()):
            try:
                yield leaves.apply(i).rdd()
            except Exception:
                pass


def release_checkpoint_blocks(frames, keep=()) -> None:
    """Free localCheckpoint block storage for frames an iterative loop has
    finished with — the repo's ONE deliberate private-API reach-in,
    shared by the segmented set and the graph driver loops.

    Why it exists: per-iteration localCheckpoint is LOAD-BEARING for
    driver-loop iteration on Spark 4.1. It is the only public operation
    that truncates the logical plan; a persist()-generation-queue
    alternative was built and measured (round 6) and is not viable — the
    CacheManager's plan matching re-walks the ever-deeper analyzed trees
    every round, and per-round driver cost goes EXPONENTIAL (a 40-node
    path k-core: 0.7 s/round at round 5 → 22 s/round by round 14, even
    with single-reference steps; the checkpointed form is flat at
    0.4 s/round). The checkpoint also preserves outputPartitioning for
    the fixpoint's exchange-free merge-scans. But PySpark exposes no
    public call to release a checkpoint's blocks deterministically, and
    dropping references defers to ContextCleaner + JVM GC, which on a
    long loop strands an O(|S|) spilled copy per iteration for minutes.

    Walks to the LogicalRDD leaves: loop-internal frames ARE the
    checkpointed node, but memoized results wrap them (monotonic: Project
    over LogicalRDD; segmented set: Union of segment LogicalRDDs) and
    releasing only the root would silently no-op on exactly the frames
    the bound-memo eviction frees. Checkpoint truncation means a fixpoint
    result's leaves are its own blocks; a frame whose plan also reads
    caller-owned relations (a memoized non-recursive result) must name
    them in ``keep``, whose leaves are never released. Strictly
    best-effort: correctness never depends on the release (a failure only
    costs memory until the ContextCleaner catches up), and it fails soft
    across Spark versions."""
    kept = {rdd.id() for rdd in _leaf_rdds(keep)}
    for rdd in _leaf_rdds(frames):
        try:
            if rdd.id() not in kept:
                rdd.unpersist(False)
        except Exception:
            pass  # best-effort: a failed release only costs memory


def _plan_is_empty(df: DataFrame) -> bool:
    """True when Catalyst proves the frame empty (optimized plan folds to an
    empty LocalRelation — PropagateEmptyRelation collapses joins/unions over
    empty deltas). Driver-side analysis only; lets a fixpoint skip the
    materialize+count jobs for variants fed solely by empty deltas, which in
    mutual recursion is about half of all variants every iteration."""
    try:
        p = df._jdf.queryExecution().optimizedPlan()
        if p.getClass().getSimpleName() == "LocalRelation":
            return p.data().isEmpty()
    except Exception:
        pass
    return False


def _narrow_small(df: DataFrame, n: int, cfg: FixpointConfig) -> DataFrame:
    """coalesce (narrow, no shuffle) a known-small delta so downstream
    iteration jobs don't launch one task per shuffle partition."""
    if 0 < n <= cfg.small_delta_rows:
        return df.coalesce(cfg.small_partitions)
    return df


class _aqe_off:
    """Disable AQE for the duration of a fixpoint loop (restoring on exit).

    Inside the loop every stored frame's partitioning must survive
    localCheckpoint so the anti-join/merge plans stay exchange-free; AQE's
    plan wrapper hides the final partitioning at capture time. Small-delta
    task-count control, AQE's main job here, is handled explicitly by
    _narrow_small."""

    # join co-partitioning on a SUBSET of the join keys (the pivot store's
    # whole point: S hash-partitioned on pivot ⊆ set columns serves the
    # all-columns anti-join in place) is semantically valid but rejected
    # by default in modern Spark — relax it for the loop's plans only
    _CONFS = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
        # LocalTableScan under a loop plan holds a handful of driver-side
        # rows (collected statics, the null store); when a Filter/Project
        # sits on top, executing it parallelizes those rows into
        # defaultParallelism partitions — 32 EMPTY tasks per broadcast
        # build per iteration (measured on dl_tc_distributed). One task is
        # the right width for data that by construction fits the driver.
        "spark.sql.leafNodeDefaultParallelism": "1",
    }

    # NOTE on auto-broadcast (r11 measured decision): with small, accurate
    # segment stats the planner auto-broadcasts the per-iteration anti-join
    # of stored segments (BHJ LeftAnti, one build job per segment per
    # iteration) instead of the designed in-place merge-scan. Forcing
    # autoBroadcastJoinThreshold=-1 in this scope removes those build jobs
    # (dl_tc_distributed 40 -> 34 jobs/run) but is 15-45% SLOWER wall on
    # 3/3 alternating-session A/B pairs at sf0.1 (dl_tc_null_labels medians
    # 6.4/7.8/5.8 s -> 8.8/9.5/9.0 s): the tiny-broadcast hash anti beats
    # the sort-merge machinery while segments fit a broadcast, and at scale
    # segments outgrow the 10 MB threshold after the first iterations and
    # the planner converges to the merge-scan on its own. Auto-broadcast
    # therefore stays ON here; the segments still CARRY their partitioning
    # (seed/union re-keying) so the big-segment SMJ regime is exchange-free.
    def __init__(self, spark, shuffle_partitions: int | None = None):
        self.spark = spark
        self._confs = dict(self._CONFS)
        if shuffle_partitions is not None:
            # loop-scoped data-sized exchange width (see FixpointConfig
            # .loop_partition_seed_bytes); restored with the AQE flags
            self._confs["spark.sql.shuffle.partitions"] = str(
                shuffle_partitions
            )

    def __enter__(self):
        # get(k, None): confs with no session value (leafNodeDefaultParallelism
        # has no default) must be UNSET on exit, not set back to null
        self.saved = {
            k: self.spark.conf.get(k, None) for k in self._confs
        }
        for k, v in self._confs.items():
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
        return False


def _loop_partitions(spark, exit_dfs: dict, cfg: FixpointConfig) -> int | None:
    """Exchange width for one segmented fixpoint, sized from the seeds'
    Catalyst byte estimates (driver-side plan stats only — no job).

    Returns None (= keep the session width) when any seed's stats are
    unknown/garbage (RDD-backed relations report Long.MaxValue), or when
    the computed width reaches the session cap anyway. Production-scale
    seeds land on the cap, so this only narrows loops whose data is far
    below one task's working size — where
    session-width stages are pure per-iteration fixed cost (task launch +
    one shuffle/checkpoint file per task per stage)."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    total = 0
    for df in exit_dfs.values():
        if getattr(df, "_bdlog_empty_exit", False):
            continue
        known = getattr(df, "_bdlog_known_rows", None)
        try:
            b = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            return None
        if b < 0 or b > (1 << 50):
            if known is None:
                return None
            # driver-built demand frames: exact row count, no plan stats
            b = known * 64
        total += b
    n = max(
        cfg.small_partitions,
        -(-total // max(1, cfg.loop_partition_seed_bytes)),
    )
    return int(n) if n < cap else None


class _SegmentedSet:
    """Accumulated set S as disjoint sorted hash-partitioned segments.

    Each segment is a localCheckpoint'ed frame partitioned by all columns
    (the set key) and sorted within partitions, so `candidates − S` plans as
    one Exchange+Sort of the candidates followed by a chain of SortMergeJoin
    LeftAnti that read every segment in place — no shuffle, no sort of S.
    Appends are O(|Δ|); a flat compaction re-shuffles S once per
    `max_segments` iterations."""

    def __init__(self, base: DataFrame, cfg: FixpointConfig, part_cols=None):
        self.cfg = cfg
        self.cols = list(base.columns)
        # alternate layouts: join-column tuple -> segments repartitioned +
        # sorted on those columns (see segments_on). Maintained
        # incrementally at append time, rebuilt from the compacted primary
        # segment at compaction.
        self._alt: dict[tuple, list[DataFrame]] = {}
        # True while the newest segment IS the current iteration's delta
        # (append sets it, compaction clears it): then last_on() can serve
        # the delta pre-partitioned from the alt layout too
        self._last_is_delta = False
        # flips True when a sealed segment carries a null-bearing row; from
        # then on anti() uses the split null-safe form (see _count_and_nulls)
        self.null_mode = False
        # side store of S's null-bearing rows: a null-bearing candidate can
        # only eqNullSafe-equal a null-bearing stored row, so the null-safe
        # anti needs ONLY these (one small join — broadcast under the row
        # gate — instead of one exchange per segment per iteration;
        # measured 38.5 → expected ~7 s on the sf0.1 null-label closure)
        self._null_segs: list[DataFrame] = []
        self._null_rows = 0
        # partitioning key of the stored segments: all columns by default
        # (set semantics need equal rows co-located, which any key subset
        # guarantees); a PIVOT subset when the recursion is decomposable —
        # then a delta that flows through broadcast-static joins keeps this
        # partitioning end-to-end and the whole iteration plans with ZERO
        # exchanges (GeneralizedPivotSetInfo.scala:30-170 executed through
        # Catalyst's partitioning-propagation instead of a custom scheduler)
        self.part_cols = list(part_cols) if part_cols else list(base.columns)
        self.segments: list[DataFrame] = []
        self._empty = _empty_like(base)
        # Frames replaced by compaction, awaiting block release. Release is
        # deferred by one FULL iteration (two-stage queue): a compaction can
        # retire the delta appended in the current iteration, but that delta
        # is read by step() in the NEXT iteration, and its lineage was
        # truncated by localCheckpoint — freeing its blocks early is
        # unrecoverable (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), not a
        # recompute.
        self._retired: list[DataFrame] = []
        self._free_queue: list[DataFrame] = []

    def _seal(self, df: DataFrame) -> DataFrame:
        # hash-partitioned (by the upstream distinct/anti-join) → in-partition
        # sort (removed as redundant when the plan is already merge-sorted) →
        # checkpoint stores blocks with partitioning+ordering intact
        return df.sortWithinPartitions(*self.cols).localCheckpoint(eager=False)

    def seal_and_count(
        self, df: DataFrame, track_nulls: bool = True
    ) -> tuple[DataFrame, int]:
        sealed = self._seal(df)
        n, nulls = _count_and_nulls(sealed)
        if nulls and track_nulls:
            self.null_mode = True
            self._null_rows += nulls
            # persist(), NOT localCheckpoint: `sealed` is already a
            # checkpoint-backed LogicalRDD, so this filter plans in one
            # node and persist() registers it lazily — the old
            # localCheckpoint paid a full plan-to-RDD pass (~75 ms
            # driver-side) per null-bearing iteration (measured: ~1 s of
            # dl_tc_null_labels). The store still materializes to its own
            # O(null rows) blocks at the next anti()'s broadcast build, so
            # S is never re-filtered per iteration at scale. Freed by
            # explicit unpersist in _compact/release_all_retired (a
            # leaf-walk would free the LIVE parent segment's blocks).
            self._null_segs.append(
                sealed.where(_has_null_expr(self.cols)).persist(
                    self.cfg.storage_level
                )
            )
        return sealed, n

    def append(self, segment: DataFrame) -> None:
        self.segments.append(segment)
        for key, lst in self._alt.items():
            lst.append(self._alt_seal(segment, list(key)))
        self._last_is_delta = True
        if len(self.segments) > self.cfg.max_segments:
            self._compact()

    def _n_shuffle(self) -> int:
        return int(
            self._empty.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )

    def _alt_seal(self, df: DataFrame, cols: list) -> DataFrame:
        """One segment re-laid-out for a positive join: hash-partitioned AND
        sorted on the join columns, checkpointed so both survive — a
        sort-merge join then reads it with no exchange and no sort. The
        source is always an already-materialized frame (a sealed primary
        segment), so the lazy checkpoint can never dangle."""
        return (
            df.repartition(self._n_shuffle(), *cols)
            .sortWithinPartitions(*cols)
            .localCheckpoint(eager=False)
        )

    def segments_on(self, cols: list) -> list:
        """Segments of S re-partitioned + sorted on ``cols`` — the store's
        positive-join face (GPS generalized to non-linear steps): a step
        that joins S on ``cols`` can distribute the join over these
        segments and shuffle only its delta side, never S. First request
        backfills the layout from the current primary segments; appends
        and compactions maintain it from then on."""
        key = tuple(cols)
        if key not in self._alt:
            self._alt[key] = [self._alt_seal(s, list(key)) for s in self.segments]
        return list(self._alt[key])

    def last_on(self, cols: list):
        """The current delta re-laid-out on ``cols``, or None when the
        newest segment is not the delta (just compacted, or never
        appended). The delta IS the last appended segment, so its alt copy
        already exists — serving the delta side of a segment-distributed
        join from here makes the whole join branch exchange-free (both
        sides stored hash-partitioned + sorted on their join columns)."""
        if not self._last_is_delta:
            return None
        segs = self.segments_on(cols)
        return segs[-1] if segs else None

    def _compact(self) -> None:
        u = self.segments[0]
        for s in self.segments[1:]:
            u = u.union(s)
        # segments are pairwise disjoint (each was anti-joined against all
        # before it), so compaction is a re-shuffle + sort, no distinct
        u = u.repartition(self._n_shuffle(), *self.part_cols)
        if not self._alt:
            # LAZY seal: no count job — the loop never branches on the
            # compacted segment's cardinality, and the next iteration's
            # convergence count materializes it (its checkpoint-marked RDD
            # is an ancestor of the next delta's plan; a compaction only
            # happens after an append, so the loop always runs at least
            # one more iteration). The retired parents' blocks stay
            # readable through that materialization: release is deferred
            # one full iteration by the two-stage free queue. With ALT
            # layouts the eager path below stays — an alt copy re-derived
            # from a lazy primary could materialize only after its
            # retired sources were freed if a step stops reading that
            # layout, so _alt_seal's "source is always materialized"
            # invariant is kept eagerly there.
            sealed = self._seal(u)
        else:
            # track_nulls=False: compaction re-seals EXISTING rows — the
            # null side store is rebuilt from the compacted frame below,
            # not double-accumulated
            sealed, _ = self.seal_and_count(u, track_nulls=False)
        self._retired.extend(self.segments)
        self.segments = [sealed]
        self._last_is_delta = False
        if self._null_segs:
            # persisted views over retiring segments: free their cache
            # entries directly (leaf-walking them would free the retired
            # segments' blocks early — those stay readable one more
            # iteration via the free queue)
            for ns in self._null_segs:
                try:
                    ns.unpersist()
                except Exception:
                    pass
            self._null_segs = [
                sealed.where(_has_null_expr(self.cols)).persist(
                    self.cfg.storage_level
                )
            ]
        # alt layouts: retire the per-iteration copies and re-derive one
        # segment per layout from the compacted primary — its source is the
        # just-materialized frame, so the retired copies are never re-read
        for key, lst in self._alt.items():
            self._retired.extend(lst)
            self._alt[key] = [self._alt_seal(sealed, list(key))]

    def anti(self, cand: DataFrame) -> DataFrame:
        if not self.null_mode:
            for s in self.segments:
                cand = cand.join(s, on=self.cols, how="left_anti")
            return cand
        # a null-bearing row reached the store: `=` anti would re-admit it
        # forever. Split so the (overwhelmingly dominant) null-free slice
        # keeps the in-place merge-scan; only the null slice pays the
        # eqNullSafe exchange.
        # hard invariant, not `assert` (stripped under python -O): a
        # misaligned candidate would silently corrupt null-safe set
        # semantics instead of failing fast
        if list(cand.columns) != self.cols:
            raise DatalogSemanticError(
                f"anti() candidate columns {cand.columns} != store {self.cols}"
            )
        np = _has_null_expr(cand.columns)
        nn, nul = cand.where(~np), cand.where(np)
        for s in self.segments:
            nn = nn.join(s, on=self.cols, how="left_anti")
        # the null slice needs checking ONLY against S's null-bearing rows
        # (eqNullSafe equality with a null column can't match a null-free
        # row), which the side store holds: one join against a tiny frame —
        # broadcast under the row gate — instead of one exchange per
        # segment per iteration
        if self._null_segs:
            store = self._null_segs[0]
            for s in self._null_segs[1:]:
                store = store.unionByName(s)
            if self._null_rows <= self.cfg.null_broadcast_max_rows:
                store = F.broadcast(store)
            nul = _anti_null_safe(nul, store, self.cols)
        # Re-key the UNION on the store's partitioning: a union reports no
        # partitioning even when both parents are partitioned, so sealing
        # it as-is would store an UNPARTITIONED segment and every later
        # iteration's merge-scan anti would re-exchange that whole segment
        # in place of reading it (O(|segment|) per iteration; masked at
        # small scale only while auto-broadcast — which stays ON in the
        # loop scope, see the _aqe_off NOTE — serves that anti). One
        # O(|Δ|) exchange at seal time is the cheaper side of that trade
        # everywhere. unionByName, not positional union:
        # _anti_null_safe re-selects in self.cols order but nn rides
        # cand's order — by-name is robust to either.
        return nn.unionByName(nul).repartition(
            self._n_shuffle(), *self.part_cols
        )

    def view(self) -> DataFrame:
        if not self.segments:
            return self._empty
        u = self.segments[0]
        for s in self.segments[1:]:
            u = u.union(s)
        return u

    @staticmethod
    def _unpersist_all(frames: list[DataFrame]) -> None:
        release_checkpoint_blocks(frames)

    def release_retired(self) -> None:
        """Free blocks of segments retired one full iteration ago (their
        data now lives in a compacted segment, and any step plan reading
        them has executed). Without this every compaction strands a full
        spilled copy of S in the block manager for the query's lifetime."""
        self._unpersist_all(self._free_queue)
        self._free_queue = self._retired
        self._retired = []

    def release_all_retired(self) -> None:
        """At fixpoint exit: the result references only current PRIMARY
        segments, so every retired frame — and every alternate-layout
        copy — can be freed."""
        alt = [s for lst in self._alt.values() for s in lst]
        # _null_segs are persisted FILTERS over the LIVE primary segments:
        # unpersist their cache entries directly — leaf-walking them would
        # free the very checkpoint blocks the returned fixpoint result
        # reads.
        for ns in self._null_segs:
            try:
                ns.unpersist()
            except Exception:
                pass
        self._unpersist_all(self._free_queue + self._retired + alt)
        self._free_queue = []
        self._retired = []
        self._alt = {}
        self._null_segs = []


_NUM_RANK = {
    "tinyint": 0, "smallint": 1, "int": 2, "bigint": 3, "float": 4, "double": 5,
}

# max base-10 digits an integral type can carry (Spark's IntegralType ->
# DecimalType promotion widths)
_INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 20}


def _decimal_ps(t: str) -> tuple[int, int]:
    """(precision, scale) of a decimal simpleString; bare `decimal` means
    Spark's default decimal(10,0)."""
    if "(" not in t:
        return 10, 0
    p, s = t[t.index("(") + 1 : t.rindex(")")].split(",")
    return int(p), int(s)


def _widen(t1: str, t2: str) -> str:
    if t1 == t2:
        return t1
    if t1 in _NUM_RANK and t2 in _NUM_RANK:
        return t1 if _NUM_RANK[t1] >= _NUM_RANK[t2] else t2
    # decimal meets decimal/integer: an EXACT decimal meet exists — widen to
    # decimal(max integral digits + max scale, max scale), mirroring Spark's
    # own promotion, so values beyond 2^53 or differing below one double ulp
    # stay distinct tuples. Fall back to double only on precision overflow
    # (>38) or a decimal-vs-float/double meet, where exactness is already
    # lost on one side.
    d1, d2 = t1.startswith("decimal"), t2.startswith("decimal")
    if d1 or d2:
        other = t2 if d1 else t1
        if (d1 and d2) or other in _INT_DIGITS:
            p1, s1 = _decimal_ps(t1) if d1 else (_INT_DIGITS[t1], 0)
            p2, s2 = _decimal_ps(t2) if d2 else (_INT_DIGITS[t2], 0)
            scale = max(s1, s2)
            prec = max(p1 - s1, p2 - s2) + scale
            if prec <= 38:
                return f"decimal({prec},{scale})"
            return "double"
        if other in ("float", "double"):
            return "double"
    # string is only a sound meet for string-ish pairs; anything else
    # (date vs timestamp, array vs int …) is a program type error — say so
    if "string" in (t1, t2):
        return "string"
    raise DatalogSemanticError(
        f"recursive step derives type {t2!r} where the exit rules derive "
        f"{t1!r} — no sound widening exists; align the rule types"
    )


def _widen_seed(seed: DataFrame, probe: DataFrame | None) -> DataFrame:
    """Cast the fixpoint seed so exit-rule literal types (e.g. `X=1, D=0` →
    int) don't conflict with recursive-step result types (e.g. bigint ids).
    ``probe`` is a lazily-built candidate plan used only for its schema."""
    if probe is None:
        return seed
    casts = []
    changed = False
    for f_seed, f_probe in zip(seed.schema.fields, probe.schema.fields):
        t1 = f_seed.dataType.simpleString()
        t2 = f_probe.dataType.simpleString()
        target = _widen(t1, t2)
        c = F.col(f_seed.name)
        if target != t1:
            changed = True
            c = c.cast(target)
        casts.append(c.alias(f_seed.name))
    return seed.select(*casts) if changed else seed


def _cast_like(df: DataFrame, target: DataFrame) -> DataFrame:
    """Cast df's columns to target's (already-widened) schema."""
    casts = []
    changed = False
    for f_df, f_t in zip(df.schema.fields, target.schema.fields):
        c = F.col(f_df.name)
        if f_df.dataType != f_t.dataType:
            changed = True
            c = c.cast(f_t.dataType)
        casts.append(c.alias(f_t.name))
    return df.select(*casts) if changed else df


def _plan_partitioned_on(df: DataFrame, cols, n: int) -> bool:
    """True iff the frame's PHYSICAL plan reports hashpartitioning on
    exactly ``cols`` with ``n`` partitions. Driver-side planning only (no
    job). Used to decide whether a decomposable recursion's per-iteration
    candidate chain PRESERVES the pivot partitioning end-to-end
    (broadcast-static joins + alias-aware projections do; a union of
    variants or an exchanged join does not)."""
    try:
        s = str(df._jdf.queryExecution().executedPlan().outputPartitioning())
    except Exception:
        return False
    import re

    m = re.fullmatch(r"hashpartitioning\((.*), (\d+)\)", s.strip())
    if not m or int(m.group(2)) != n:
        return False
    exprs = [e.strip().split("#")[0] for e in m.group(1).split(",")]
    return exprs == list(cols)


class _SegmentViews(dict):
    """The ``all_dfs`` mapping the segmented loop hands to step().

    As a dict it is pred -> S.view() (what a plain step reads). A
    cooperating step (context._compute_seminaive_clique) may additionally
    call ``join_segments(pred, cols)`` to distribute a positive join on
    ``cols`` over S's stored segments — each pre-partitioned and sorted on
    exactly those columns — so the join shuffles only the delta side. This
    is what turns a non-linear step's per-iteration shuffle volume from
    O(|S|) (re-exchanging the whole accumulated set for S ⋈ Δ) into
    O(|Δ|), the same discipline anti() already applies to set-difference.
    Steps probed with plain dicts fall back to the view automatically."""

    def __init__(self, sets: dict):
        super().__init__({p: s.view() for p, s in sets.items()})
        self._sets = sets

    def join_segments(self, pred: str, cols: list):
        s = self._sets.get(pred)
        if s is None:
            return None
        return s.segments_on(cols)

    def delta_on(self, pred: str, cols: list):
        """The current delta of ``pred`` pre-partitioned + sorted on
        ``cols`` (its alt-layout copy), or None — the step then falls back
        to the delta frame it was handed."""
        s = self._sets.get(pred)
        if s is None:
            return None
        return s.last_on(cols)


def fixpoint_seminaive(
    exit_dfs: dict,
    step,
    cfg: FixpointConfig | None = None,
    pivot_cols: dict | None = None,
) -> dict:
    """Parallel semi-naive fixpoint over one or more mutually-recursive
    predicates.

    exit_dfs: pred -> seed DataFrame (already distinct / canonical columns).
    step(all_dfs, delta_dfs) -> pred -> candidate DataFrame of newly
        derivable tuples (may contain already-known rows; this function
        anti-joins them away — SetRDD.diff semantics, SetRDD.scala:111-126).
    pivot_cols: pred -> pivot columns of a decomposable recursion (see the
        GPS-lite probe below).

    The accumulated set S is held as co-partitioned sorted segments
    (_SegmentedSet): Δ' = T_R(Δ) − S shuffles and sorts the candidate side
    once, and every stored segment merge-joins in place — per-iteration
    shuffle is O(|Δ|), not O(|S|) (the SetRDD partition-stable store,
    re-expressed via localCheckpoint's preserved outputPartitioning; AQE is
    off inside the loop because its plan wrapper hides that partitioning
    at checkpoint capture). Measured on sf1 non-linear TC (3.1M-row
    closure) against the former union-based S ∪ Δ store: 25 s → 21 s.

    Returns pred -> fixpoint DataFrame.
    """
    cfg = cfg or FixpointConfig()
    _truncate_marked_ancestors(exit_dfs)
    # the step planned once against plain seed dicts (plan construction
    # only, no job runs): the schema probe for seed widening
    probe = step(dict(exit_dfs), dict(exit_dfs))
    spark = next(iter(exit_dfs.values())).sparkSession
    n_loop = _loop_partitions(spark, exit_dfs, cfg)
    n_shuffle = n_loop or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # widen BEFORE the pivot probe: an un-widened seed (e.g. the
    # IntegerType placeholder of an exit-less mutual predicate) makes the
    # candidate chain cast the pivot column, and a cast breaks Catalyst's
    # partitioning propagation — the probe would wrongly decline
    exit_dfs = {
        p: _widen_seed(df, probe.get(p)) for p, df in exit_dfs.items()
    }

    # GPS-lite: for a decomposable pred, store the set partitioned on its
    # PIVOT columns. When the step's candidate chain preserves that
    # partitioning (delta → broadcast-static joins → projection), the
    # whole iteration — distinct, anti-join merge-scan, seal — plans with
    # ZERO exchanges: Catalyst's partitioning propagation replays the
    # reference's pivoted fixpoint scheduling declaratively. Probed on the
    # physical plan before the loop; preds whose chain breaks (multi-
    # variant unions, exchanged joins) keep the all-columns store.
    piv: dict[str, list] = {}
    with _aqe_off(spark, n_loop):
        pcs = {
            p: pc
            for p, pc in (pivot_cols or {}).items()
            if pc and p in exit_dfs
        }
        if pcs:
            # all-or-nothing across the clique: in a MUTUAL recursion one
            # predicate's candidates are built from the OTHER predicates'
            # deltas, so the preservation probe must see every pivoted
            # store partitioned at once — a pred whose chain breaks would
            # otherwise feed unpartitioned deltas the per-pred probe never
            # modeled
            try:
                pp = {
                    p: exit_dfs[p].repartition(n_shuffle, *pc)
                    for p, pc in pcs.items()
                }
                merged = {**exit_dfs, **pp}
                pcands = step(merged, merged)
                ok = True
                for p, pc in pcs.items():
                    pcand = pcands.get(p)
                    if pcand is None:
                        continue  # exit-only pred: store layout is free
                    pcand = _cast_like(pcand, _empty_like(pp[p])).distinct()
                    if not _plan_partitioned_on(pcand, pc, n_shuffle):
                        ok = False
                        break
                if ok:
                    piv = {p: list(pc) for p, pc in pcs.items()}
            except Exception:
                pass  # probe failure just means no pivot store

    sets: dict[str, _SegmentedSet] = {}
    delta_dfs: dict[str, DataFrame] = {}
    live = set()
    # sealed EMPTY deltas: never appended, so no segment owns their
    # blocks; freed once the next iteration's step has read them
    empties: list[DataFrame] = []
    with _aqe_off(spark, n_loop):
        for pred, df in exit_dfs.items():
            pc = piv.get(pred)
            sset = _SegmentedSet(df, cfg, part_cols=pc)
            # Explicit repartition for BOTH store layouts: stored segments
            # must CARRY hashpartitioning(part_cols) or every later
            # iteration's merge-scan anti re-exchanges the segment in
            # place of reading it. distinct() usually establishes it, but
            # a LocalRelation seed (literal exit rules) is folded by
            # ConvertToLocalRelation — distinct evaluates at optimize time
            # and the sealed segment reports no partitioning. The explicit
            # repartition shares its exchange with the distinct (same
            # keys, same width), so ordinary seeds pay nothing extra.
            seeded = df.repartition(
                n_shuffle, *(pc if pc else sset.cols)
            ).distinct()
            seg, n = sset.seal_and_count(seeded)
            if n:
                sset.append(seg)
                live.add(pred)
            else:
                empties.append(seg)
            sets[pred] = sset
            delta_dfs[pred] = seg if pc else _narrow_small(seg, n, cfg)

    with _aqe_off(spark, n_loop):
        iteration = 0
        while live:
            iteration += 1
            if iteration > cfg.max_iterations:
                raise RuntimeError(
                    f"fixpoint did not converge within {cfg.max_iterations} iterations"
                )
            candidates = step(_SegmentViews(sets), delta_dfs)
            spent, empties = empties, []
            live = set()
            new_delta: dict[str, DataFrame] = {}
            for pred, cand in candidates.items():
                sset = sets[pred]
                if cand is None:
                    sset._last_is_delta = False
                    new_delta[pred] = sset._empty
                    continue
                cand = _cast_like(cand, sset._empty)
                if _plan_is_empty(cand):
                    sset._last_is_delta = False
                    new_delta[pred] = sset._empty
                    continue
                delta, n = sset.seal_and_count(sset.anti(cand.distinct()))
                if n:
                    sset.append(delta)
                    live.add(pred)
                else:
                    # converged pred: the newest segment is no longer the
                    # delta — delta_on must stop serving it
                    sset._last_is_delta = False
                    empties.append(delta)
                new_delta[pred] = (
                    delta if pred in piv else _narrow_small(delta, n, cfg)
                )
            for pred in sets:
                if pred not in candidates:
                    sets[pred]._last_is_delta = False
                new_delta.setdefault(pred, sets[pred]._empty)
            delta_dfs = new_delta
            # free blocks of segments retired one full iteration ago (the
            # two-stage queue in _SegmentedSet keeps frames that next
            # iteration's step plans still read)
            for sset in sets.values():
                sset.release_retired()
            release_checkpoint_blocks(spent)

    for sset in sets.values():
        sset.release_all_retired()
    release_checkpoint_blocks(empties)
    return {pred: s.view() for pred, s in sets.items()}


def _empty_like(df: DataFrame) -> DataFrame:
    return df.filter(F.lit(False))


def _union_capped(all_df: DataFrame, delta: DataFrame, cfg: FixpointConfig) -> DataFrame:
    """S ∪ Δ with the accumulated set's partition count capped.

    A union sums its parents' partition counts, so a long recursion would
    leave S with one partition-set per iteration and every later anti-join
    scheduling that many tasks; repartition whenever the cap
    (max_set_partitions, default 2× shuffle partitions) is exceeded."""
    grown = all_df.union(delta)
    cap = cfg.max_set_partitions or 2 * int(
        grown.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    # Track the partition count driver-side (a union's count is the sum of
    # its parents') instead of probing grown.rdd each iteration: .rdd on an
    # AQE-rooted plan runs full physical planning per call. The one-time
    # probes below hit frames that are already materialized (counted +
    # stored), so they reuse completed stages.
    parts = getattr(all_df, "_bdlog_parts", None)
    if parts is None:
        parts = all_df.rdd.getNumPartitions()
    dparts = getattr(delta, "_bdlog_parts", None)
    if dparts is None:
        dparts = delta.rdd.getNumPartitions()
    total = parts + dparts
    if total > cap:
        grown = grown.repartition(cap)
        total = cap
    grown._bdlog_parts = total
    return grown


# Aggregate-table maintenance is deliberately JOIN-FREE (union + keyed
# re-aggregate for the merge, a filter over that same aggregate for the
# delta — see _merge_monotonic):
#
# * Null safety — GROUP BY and set operations treat NULL keys as a regular
#   group (SQL semantics), so a null-key group merges and converges instead
#   of being split by a `=` join that never matches it.
# * Spark 4 checkpoint stats — Dataset.checkpoint carries the optimized
#   plan's stats onto the new LogicalRDD (LogicalRDD.rewriteStatsAndConstraints,
#   sql/.../ExistingRDD.scala). Keyed outer-join maintenance compounds
#   sizeInBytes *products* through that propagation; with `eqNullSafe`
#   conditions the products survive optimization and the BigInt digit count
#   grows geometrically per iteration — by iteration ~25 each stats walk
#   multiplies million-digit integers and the driver appears hung (measured:
#   0.5s → 50s per iteration on a 30-edge path). Union/aggregate/exceptAll
#   plans keep stats additive, so iteration cost stays flat.


@dataclass
class AggSpec:
    """Shape of one monotonic-aggregate predicate inside a clique:
    canonical key columns, the value column, and the function
    ('mmin' | 'mmax' | 'mcount' | 'msum')."""

    key_cols: list
    value_col: str
    func: str
    # column order of the aggregate table as the predicate declares it
    # (the value column need not be last); defaults to keys... then value
    out_cols: list | None = None

    @property
    def cols(self) -> list:
        return list(self.out_cols) if self.out_cols else (
            list(self.key_cols) + [self.value_col]
        )

    @property
    def additive(self) -> bool:
        return self.func in ("mcount", "msum")


def _merge_monotonic(
    table: DataFrame,
    cand: DataFrame,
    keys: list,
    vcol: str,
    agg_fn,
    out_cols: list,
    vtype=None,
):
    """Merge a monotonic-aggregate table with a contribution stream and
    derive the changed-group delta — the ONE fused keyed aggregate both
    monotonic branches of fixpoint_mixed share (mmin/mmax and
    mcount/msum; formerly hand-kept copies of the same subtle
    __old/__seen/__oldv contract).

    Join-free by design (see the maintenance note above _union_capped):
    tag table rows __old=1 and contributions __old=0, aggregate once per
    group carrying the new value, the presence flag, and the OLD value
    (aggregated over old-tagged rows only — the table has one row per
    group, so agg_fn reproduces it); changed groups are then a FILTER
    over the same checkpointed frame (null-safe value compare, so a
    group whose stored value is genuinely NULL doesn't re-report
    forever). ``vtype`` casts both value aggregates back to the table's
    type for the additive functions, where SUM widens (what
    _cast_like(merged, table) did pre-fusion). Returns (merged,
    improved) — improved NOT yet materialized; the caller's count is the
    iteration's one job."""
    tagged = table.withColumn("__old", F.lit(1)).unionByName(
        cand.withColumn("__old", F.lit(0))
    )
    new_v = agg_fn(F.col(vcol))
    old_v = agg_fn(F.when(F.col("__old") == 1, F.col(vcol)))
    if vtype is not None:
        new_v, old_v = new_v.cast(vtype), old_v.cast(vtype)
    merged_all = tagged.groupBy(*keys).agg(
        new_v.alias(vcol),
        F.max(F.col("__old")).alias("__seen"),
        old_v.alias("__oldv"),
    )
    merged_all = _truncate(merged_all)
    merged = merged_all.select(*out_cols)
    improved = merged_all.where(
        (F.col("__seen") == 0) | ~F.col(vcol).eqNullSafe(F.col("__oldv"))
    ).select(*out_cols)
    return merged, improved


def fixpoint_mixed(
    exit_dfs: dict,
    step,
    agg_specs: dict,
    cfg: FixpointConfig | None = None,
) -> dict:
    """PSN over a clique mixing set-semantics predicates with monotonic-
    aggregate predicates (the generalization the reference left as TODO —
    AggregateSetRDD.scala:146-148 "implement MCOUNT/MSUM", and mutual
    monotonic cliques like the commented-out Attend program,
    AggregatesInRecursionQuerySuite.scala:97-142).

    exit_dfs: pred -> seed DataFrame. For a plain pred these are result
        tuples; for an aggregate pred (listed in agg_specs) they are
        PRE-AGGREGATE contribution tuples (keys..., value).
    step(all_dfs, delta_dfs) -> pred -> candidate DataFrame. For an
        aggregate pred, ``all_dfs[pred]``/``delta_dfs[pred]`` hold the
        running aggregate TABLE / its changed groups (the AggregateRelation
        read, execution/relations.scala:50-57), and the candidate is again a
        contribution stream.
    agg_specs: pred -> AggSpec.

    Semantics per aggregate kind:
    * mmin/mmax — keep the best value per group; delta = improved groups
      (AggregateSetRDDMinMaxPartition.scala:42-57 semantics).
    * mcount/msum — the aggregate ranges over the DISTINCT SET of
      (keys..., value) contribution tuples (support set); counts/sums only
      grow as support grows, so conditions over the running value converge
      monotonically. msum assumes non-negative contributions for
      monotonicity of threshold conditions (the classic DeALS premise).
    """
    cfg = cfg or FixpointConfig()
    _truncate_marked_ancestors(exit_dfs)
    probe = step(exit_dfs, exit_dfs)

    def aggregate(pred: str, contrib: DataFrame) -> DataFrame:
        spec: AggSpec = agg_specs[pred]
        v = F.col(spec.value_col)
        fn = {
            "mmin": F.min(v),
            "mmax": F.max(v),
            "mcount": F.count(F.lit(1)).cast("long"),
            "msum": F.sum(v),
        }[spec.func]
        return (
            contrib.groupBy(*spec.key_cols)
            .agg(fn.alias(spec.value_col))
            .select(*spec.cols)
        )

    all_dfs: dict[str, DataFrame] = {}      # plain: result set; agg: table
    delta_dfs: dict[str, DataFrame] = {}
    supports: dict[str, DataFrame] = {}     # additive preds: distinct contribs
    live = set()
    null_preds: set[str] = set()  # plain preds holding a null-bearing row
    for pred, df in exit_dfs.items():
        df = _widen_seed(df, probe.get(pred))
        if pred in agg_specs:
            spec = agg_specs[pred]
            if spec.additive:
                # no count job for the support store — the table count below
                # is the action that materializes its checkpoint blocks
                supports[pred] = _truncate(df.distinct())
                table = aggregate(pred, supports[pred])
            else:
                table = aggregate(pred, df)
            table, nt = _materialize(table)
            all_dfs[pred] = table
            delta_dfs[pred] = table
            if nt:
                live.add(pred)
        else:
            df, n, hn = _materialize_nd(df.distinct())
            if hn:
                null_preds.add(pred)
            all_dfs[pred] = df
            delta_dfs[pred] = df
            if n:
                live.add(pred)

    iteration = 0
    while live:
        iteration += 1
        if iteration > cfg.max_iterations:
            raise RuntimeError(
                f"mixed fixpoint did not converge within {cfg.max_iterations}"
            )
        candidates = step(all_dfs, delta_dfs)
        live = set()
        new_all = dict(all_dfs)
        new_delta: dict[str, DataFrame] = {}
        for pred, cand in candidates.items():
            if cand is None or _plan_is_empty(cand):
                new_delta[pred] = _empty_like(all_dfs[pred])
                continue
            if pred not in agg_specs:
                cand = _cast_like(cand, all_dfs[pred])
                if pred in null_preds:
                    delta = _anti_null_safe(
                        cand.distinct(), all_dfs[pred], list(cand.columns)
                    )
                else:
                    delta = cand.distinct().join(
                        all_dfs[pred], on=list(cand.columns), how="left_anti"
                    )
                delta, n, hn = _materialize_nd(delta)
                if hn:
                    null_preds.add(pred)
                delta = _narrow_small(delta, n, cfg)
                new_delta[pred] = delta
                if n:
                    live.add(pred)
                    new_all[pred] = _truncate(
                        _union_capped(all_dfs[pred], delta, cfg)
                    )
                continue

            spec = agg_specs[pred]
            keys = spec.key_cols
            vcol = spec.value_col
            table = all_dfs[pred]
            if spec.additive:
                cand = _cast_like(cand, supports[pred])
                # new support = distinct contributions not yet counted.
                # exceptAll is null-safe (support tuples may carry null
                # fields — a `=` anti-join would re-count them forever) and
                # join-free (see the maintenance note above _ns-free merge).
                # NO count job on fresh: the delta count below is the one
                # job that materializes the fresh/merged/delta checkpoints
                # (one job per iteration, like the mmin/mmax branch).
                fresh = _truncate(cand.distinct().exceptAll(supports[pred]))
                # merge: cumulative table + per-group increments via ONE
                # keyed SUM over table ∪ increments (null-safe GROUP BY;
                # for mcount the increment is already a per-group count, so
                # the merge aggregate is SUM for both mcount and msum)
                inc = aggregate(pred, fresh)
                # merge + delta in ONE keyed aggregate over tagged
                # table ∪ increments (same fusion as the mmin/mmax branch):
                # the pass carries the group's old cumulative value and a
                # presence flag, so changed groups are a FILTER instead of
                # a merged.exceptAll(table) that re-shuffled 2|table| more
                # per iteration. Sign-cancelling msum increments (group
                # sum 0) leave value == old value and are correctly
                # excluded, as exceptAll excluded the identical row.
                merged, delta = _merge_monotonic(
                    table, inc, keys, vcol, F.sum, spec.cols,
                    vtype=table.schema[vcol].dataType,
                )
                delta, nd = _materialize(delta)
                new_delta[pred] = _narrow_small(delta, nd, cfg)
                # supports must absorb fresh EVEN when the table is
                # unchanged (nd == 0): sign-mixed msum contributions can
                # cancel within a group (+5 and -5 in one iteration) —
                # leaving them out of the support set would let a later
                # partial re-derivation (+5 alone) slip past the exceptAll
                # and be counted a second time. One extra union per no-op
                # iteration is the price of soundness for signed msum.
                supports[pred] = _truncate(
                    _union_capped(supports[pred], fresh, cfg)
                )
                if not nd:
                    continue
                live.add(pred)
                new_all[pred] = merged
            else:
                cand = _cast_like(cand, table)
                # merge + delta detection in ONE keyed min/max over tagged
                # S ∪ candidates (join-free: see the maintenance note
                # above). Alongside the new min/max, the pass carries the
                # group's OLD value and a presence flag; the delta is then
                # a FILTER over the same checkpointed frame: new groups, or
                # groups whose value changed (null-safe compare, so
                # NULL-valued groups don't re-report forever). This
                # replaces merged.exceptAll(all), which re-shuffled 2|S|
                # more per iteration on top of the |S|+|Δ| merge exchange
                # (TungstenMonotonicAggregationIterator.scala:512-555
                # tracks "changed groups" inside its hash table the same
                # way).
                mfn = F.min if spec.func == "mmin" else F.max
                merged, improved = _merge_monotonic(
                    table, cand, keys, vcol, mfn, spec.cols
                )
                improved, n = _materialize(improved)
                improved = _narrow_small(improved, n, cfg)
                new_delta[pred] = improved
                new_all[pred] = merged
                if n:
                    live.add(pred)
        for pred in all_dfs:
            new_delta.setdefault(pred, _empty_like(all_dfs[pred]))
        # Superseded aggregate tables/deltas: each was materialized by its
        # own iteration's count and is the lazy parent of no checkpoint,
        # so this iteration's counts finished every read of them. Set-pred
        # frames are left to the ContextCleaner: S ∪ Δ seals lazily, and a
        # release could orphan it. ``keep`` guards frames still current
        # (an unchanged table, or an empty delta viewing it).
        release_checkpoint_blocks(
            [f for p in agg_specs for f in (all_dfs[p], delta_dfs[p])],
            keep=[f for p in agg_specs for f in (new_all[p], new_delta[p])],
        )
        all_dfs = new_all
        delta_dfs = new_delta

    release_checkpoint_blocks(
        [delta_dfs[p] for p in agg_specs], keep=[all_dfs[p] for p in agg_specs]
    )
    return all_dfs


def fixpoint_monotonic(
    exit_pre_agg: DataFrame,
    step,
    key_cols: list,
    value_col: str,
    func: str,
    cfg: FixpointConfig | None = None,
) -> DataFrame:
    """Monotonic-aggregate (mmin/mmax) fixpoint: the one-predicate case
    of fixpoint_mixed, with a single-frame step.

    exit_pre_agg: DataFrame of (keys..., value) contributions from exit rules.
    step(all_df, delta_df) -> DataFrame of new (keys..., value) contributions
        derived from the changed groups; ``all_df`` is the full running
        aggregate table for non-linear rules (the AggregateRelation read,
        execution/relations.scala:50-57).
    func: 'mmin' | 'mmax'.

    Semantics match AggregateSetRDDMinMaxPartition.update
    (AggregateSetRDDMinMaxPartition.scala:42-57): merge candidate values into
    the running table, emit only improved/new groups as the next delta.
    """
    def one_pred_step(all_dfs, delta_dfs):
        return {"__m": step(all_dfs["__m"], delta_dfs["__m"])}

    out = fixpoint_mixed(
        {"__m": exit_pre_agg}, one_pred_step,
        {"__m": AggSpec(list(key_cols), value_col, func)}, cfg,
    )
    return out["__m"]
