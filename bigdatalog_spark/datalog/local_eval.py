"""Partition-local fixpoint for decomposable programs (the GPS path).

Replicates the reference's Generalized-Pivot-Set planning
(GeneralizedPivotSetInfo.scala:30-170, LogicalPlanGenerator.scala:57-61) and
its single-job fixpoint execution (FixedPointResultTask.scala:44-106)
Spark-first: when every recursive rule is *linear* and copies a non-empty
set of "pivot" argument positions unchanged from the recursive body atom to
the head, a derived tuple always has the same pivot values as the delta
tuple it came from — derivations never cross pivot groups. Hash-partition
the seed on the pivot, broadcast the (stats-gated small) static relations,
and each partition can run its ENTIRE semi-naive fixpoint locally inside a
single mapInPandas pass: one shuffle + one Spark job total, instead of a
diff + union + count job per iteration.

The in-task loop interprets the same rule AST the Spark compiler consumes
(compiler.py mirrors: _load_atom / comparisons / head projection), over
Arrow-delivered pandas batches, so both paths share one semantics and the
distributed loop remains the oracle in tests.

Scale notes (100 TB framing):
* Parallelism = spread of pivot values over hash partitions. A one-pivot
  program (single-source reachability) degenerates to one working task —
  still the right trade when the static graph passes the broadcast gate,
  because the alternative is hundreds of near-empty driver-scheduled jobs.
* Per-task memory holds that partition's slice of the closure; the static
  side is bounded by the byte gate the caller enforces. Statics above the
  gate fall back to the distributed loop in fixpoint.py.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from .ast import AggTerm, AnonVar, Arith, Atom, Comparison, Const, Var
from .compiler import DatalogCompileError

_YIELD_ROWS = 65_536  # chunk mapInPandas output to sane Arrow batch sizes

# in-task growth bailout: the seed-size gates bound the SEED, not the
# closure — a small seed over a high-fanout graph can derive a closure
# far larger than the seed, and a single pandas task has no spill path.
# Each in-task loop tracks its accumulated rows and aborts past
# max(factor · seed_rows, floor); the caller catches the marker and
# reroutes the clique to the spill-capable distributed fixpoint. The
# floor keeps legitimate small-seed/large-closure programs (single-source
# reachability: 1 seed row, |V| closure) off the bailout path.
DEFAULT_GROWTH = (64, 1 << 22)

_GROWTH_MARKER = "LOCAL_EVAL_GROWTH_EXCEEDED"


class LocalGrowthExceeded(RuntimeError):
    """Raised inside a local-eval task when the accumulated fixpoint set
    exceeds the growth budget; carries a marker string the driver-side
    caller matches to fall back to the distributed loop."""


def _budget(growth, seed_rows: int) -> int:
    factor, floor = growth
    return max(factor * seed_rows, floor)


def _check_growth(total: int, budget: int):
    if total > budget:
        raise LocalGrowthExceeded(
            f"{_GROWTH_MARKER}: accumulated {total} rows exceed the local"
            f" budget {budget}; rerun on the distributed fixpoint"
        )


# ------------------------------------------------------------------ terms
def _vars(term) -> set:
    if isinstance(term, Var):
        return {term.name}
    if isinstance(term, Arith):
        return _vars(term.left) | _vars(term.right)
    return set()


def _term_pd(term, env: dict, df):
    """Evaluate a term to a pandas Series (or scalar for constants)."""
    if isinstance(term, Var):
        return df[env[term.name]]
    if isinstance(term, Const):
        return term.value
    if isinstance(term, Arith):
        left = _term_pd(term.left, env, df)
        right = _term_pd(term.right, env, df)
        if term.op == "+":
            return left + right
        if term.op == "-":
            return left - right
        if term.op == "*":
            return left * right
        if term.op == "/":
            return left / right
        raise DatalogCompileError(f"unknown arithmetic op {term.op!r}")
    raise DatalogCompileError(f"cannot evaluate term {term!r}")


# ------------------------------------------------------------------ atoms
def _drop_null_keys(df, keys):
    """Rows whose join keys are all non-null — WITHOUT copying the frame
    on the (universal) null-free path. numpy int/uint/bool dtypes cannot
    hold nulls at all, so only float/object/nullable key columns are even
    scanned, and the row-filter copy happens only when a null is actually
    present (an unconditional dropna(subset=...) copied the accumulated
    frame every merge of every iteration — measured ~2× on the pandas-tier
    fixpoint queries). Pandas NULLABLE extension dtypes (Int64Dtype,
    BooleanDtype, …) report kind 'i'/'u'/'b' while holding pd.NA, so they
    must stay candidates — only plain numpy int/uint/bool are null-free."""
    import pandas as pd

    cand = [
        k
        for k in keys
        if df[k].dtype.kind not in "iub"
        or isinstance(df[k].dtype, pd.api.extensions.ExtensionDtype)
    ]
    if not cand:
        return df
    mask = df[cand].notna().all(axis=1)
    if mask.all():
        return df
    return df[mask]


def _load_atom_pd(atom: Atom, pdf, k: int):
    """pandas mirror of RuleCompiler._load_atom: positional rename to fresh
    t{k}_{j} columns, constant filters, intra-atom repeated-var equality."""
    if len(pdf.columns) != atom.arity:
        raise DatalogCompileError(
            f"{atom.pred!r} arity {atom.arity} != relation width {len(pdf.columns)}"
        )
    names = [f"t{k}_{j}" for j in range(atom.arity)]
    out = pdf.set_axis(names, axis=1)
    env: dict[str, str] = {}
    mask = None
    for j, term in enumerate(atom.args):
        col = names[j]
        if isinstance(term, AnonVar):
            continue
        if isinstance(term, Var):
            if term.name in env:
                m = out[env[term.name]] == out[col]
                mask = m if mask is None else (mask & m)
            else:
                env[term.name] = col
        elif isinstance(term, Const):
            m = out[col] == term.value
            mask = m if mask is None else (mask & m)
        else:
            raise DatalogCompileError(
                f"complex term {term} in body atom {atom.pred!r}"
            )
    if mask is not None:
        out = out[mask]
    return out, env


def _apply_comparison_pd(lit: Comparison, acc, env: dict, counter):
    """pandas mirror of RuleCompiler._apply_comparison (assignment form
    binds a fresh column; bound-bound form filters)."""
    lb = all(v in env for v in _vars(lit.left))
    rb = all(v in env for v in _vars(lit.right))
    if lit.op == "=":
        if isinstance(lit.left, Var) and lit.left.name not in env and rb:
            name = f"b{next(counter)}"
            acc = acc.assign(**{name: _term_pd(lit.right, env, acc)})
            env[lit.left.name] = name
            return True, acc
        if isinstance(lit.right, Var) and lit.right.name not in env and lb:
            name = f"b{next(counter)}"
            acc = acc.assign(**{name: _term_pd(lit.left, env, acc)})
            env[lit.right.name] = name
            return True, acc
    if not (lb and rb):
        return False, acc
    left = _term_pd(lit.left, env, acc)
    right = _term_pd(lit.right, env, acc)
    if lit.op == "=":
        cond = left == right
    elif lit.op == "~=":
        cond = left != right
    elif lit.op == "<":
        cond = left < right
    elif lit.op == ">":
        cond = left > right
    elif lit.op == "<=":
        cond = left <= right
    elif lit.op == ">=":
        cond = left >= right
    else:
        raise DatalogCompileError(f"unknown comparison op {lit.op!r}")
    if isinstance(cond, bool):  # Const-vs-Const folds to a scalar
        return True, (acc if cond else acc.iloc[0:0])
    return True, acc[cond]


def _eval_rule_pd(
    rule,
    clique_preds,
    delta,
    statics,
    pre_aggregate: bool,
    all_frames=None,
    delta_occ: int = 0,
    unit_if_no_atoms: bool = False,
):
    """Evaluate one recursive rule over pandas frames.

    Clique-predicate occurrence number ``delta_occ`` reads its entry in
    ``delta`` (pred -> frame); other clique occurrences read ``all_frames``
    (the accumulated sets — the semi-naive variant scheme for non-linear
    rules; defaults to ``delta`` which is only correct for linear rules
    where there are no other occurrences); every non-clique atom reads
    ``statics``. Returns a frame with canonical head columns c0..cn
    (``pre_aggregate`` projects AggTerm args raw, for the monotonic loop —
    compiler.pre_aggregate_projection semantics)."""
    import pandas as pd

    if all_frames is None:
        all_frames = delta
    occ = itertools.count()
    cocc = itertools.count()  # clique-occurrence counter (delta vs all)
    acc = None
    env: dict[str, str] = {}
    pending: list = []
    for lit in rule.body:
        if isinstance(lit, Atom) and not lit.negated:
            if lit.pred in clique_preds:
                use_delta = next(cocc) == delta_occ
                src = delta[lit.pred] if use_delta else all_frames[lit.pred]
            else:
                src = statics[lit.pred]
            adf, aenv = _load_atom_pd(lit, src, next(occ))
            if acc is None:
                acc, env = adf, dict(aenv)
            else:
                shared = [v for v in aenv if v in env]
                if shared:
                    # pandas inner merge matches NaN keys with each other;
                    # Spark's `=` equi-join (the distributed path) never
                    # does, and neither does Datalog unification. Drop
                    # null-keyed rows from both sides so every tier agrees
                    # when a null-bearing tuple's column becomes a join key
                    lk = [env[v] for v in shared]
                    rk = [aenv[v] for v in shared]
                    acc = _drop_null_keys(acc, lk).merge(
                        _drop_null_keys(adf, rk),
                        left_on=lk,
                        right_on=rk,
                        how="inner",
                    )
                else:
                    acc = acc.merge(adf, how="cross")
                for v, c in aenv.items():
                    env.setdefault(v, c)
        else:
            pending.append(lit)
    if acc is None:
        if not unit_if_no_atoms:
            raise DatalogCompileError(
                f"recursive rule with no body atoms: {rule}"
            )
        # constant-only rule (TUPLE exit, `m(V) <- V = 5`): a single unit
        # row lets the assignment comparisons below bind the columns
        acc = pd.DataFrame(index=[0])

    bind = itertools.count()
    progress = True
    while pending and progress:
        progress = False
        remaining = []
        for lit in pending:
            if isinstance(lit, Comparison):
                done, acc = _apply_comparison_pd(lit, acc, env, bind)
                if done:
                    progress = True
                else:
                    remaining.append(lit)
            else:
                raise DatalogCompileError(
                    f"literal {lit} unsupported in local evaluation"
                )
        pending = remaining
    if pending:
        raise DatalogCompileError(
            f"cannot resolve comparisons {pending} — unbound variables"
        )

    res = pd.DataFrame(index=acc.index)
    for i, t in enumerate(rule.head.args):
        if isinstance(t, AggTerm):
            if not pre_aggregate:
                raise DatalogCompileError(
                    f"aggregate head {t} outside a monotonic clique"
                )
            val = 1 if isinstance(t.arg, AnonVar) else _term_pd(t.arg, env, acc)
        else:
            val = _term_pd(t, env, acc)
        res[f"c{i}"] = val
    return res.reset_index(drop=True)


def _cast_like_pd(df, dtypes: dict):
    """Cast candidate columns back to the seed's dtypes (the pandas mirror
    of fixpoint._cast_like), so diff/dedup compare equal-typed values."""
    import pandas as pd

    out = {}
    for col, dt in dtypes.items():
        s = df[col]
        if s.dtype != dt:
            try:
                s = s.astype(dt)
            except (ValueError, TypeError):
                pass
        out[col] = s
    return pd.DataFrame(out)


# ------------------------------------------------------------------ loops
def _run_seminaive_pd(seed, rules, clique_preds, statics, growth=DEFAULT_GROWTH):
    """In-task PSN loop for a single-predicate clique."""
    (pred,) = clique_preds if len(clique_preds) == 1 else (next(iter(clique_preds)),)
    rules_by_pred = {pred: list(rules)}
    return _run_seminaive_multi_pd(
        {pred: seed}, rules_by_pred, clique_preds, statics, growth=growth
    )[pred]


def _clique_occurrence_count(rule, clique_preds) -> int:
    return sum(
        1
        for lit in rule.body
        if isinstance(lit, Atom) and not lit.negated and lit.pred in clique_preds
    )


def _run_seminaive_multi_pd(
    seeds, rules_by_pred, clique_preds, statics, growth=DEFAULT_GROWTH
):
    """In-task PSN loop over one or more mutually-recursive predicates:
    Δ'_p = T_p(Δ, S) − S_p; S_p = S_p ∪ Δ'_p (MutualRecursion.scala:28-131
    semantics). Non-linear rules expand to one variant per clique
    occurrence (occurrence j reads Δ, the rest read the accumulated set —
    the same scheme the distributed step compiler uses)."""
    import pandas as pd

    cols = {p: list(df.columns) for p, df in seeds.items()}
    dtypes = {p: dict(df.dtypes) for p, df in seeds.items()}
    all_ = {
        p: df.drop_duplicates().reset_index(drop=True) for p, df in seeds.items()
    }
    budget = _budget(growth, sum(len(df) for df in all_.values()))
    delta = dict(all_)
    while True:
        new_delta = {}
        for p in all_:
            rules = rules_by_pred.get(p, [])
            cands = [
                _eval_rule_pd(
                    r, clique_preds, delta, statics, False,
                    all_frames=all_, delta_occ=j,
                )
                for r in rules
                for j in range(max(1, _clique_occurrence_count(r, clique_preds)))
            ]
            if not cands:
                new_delta[p] = all_[p].iloc[0:0]
                continue
            new = pd.concat(cands, ignore_index=True)
            new = _cast_like_pd(new, dtypes[p]).drop_duplicates()
            merged = new.merge(all_[p], on=cols[p], how="left", indicator=True)
            new_delta[p] = merged.loc[
                merged["_merge"] == "left_only", cols[p]
            ].reset_index(drop=True)
        if not any(len(d) for d in new_delta.values()):
            break
        for p, nd in new_delta.items():
            if len(nd):
                all_[p] = pd.concat([all_[p], nd], ignore_index=True)
        _check_growth(sum(len(df) for df in all_.values()), budget)
        delta = new_delta
    return all_


def _aggregate_pd(spec, cols_order, contrib):
    """pandas mirror of fixpoint_mixed.aggregate: keyed monotonic aggregate
    of a (distinct, for additive funcs) contribution frame."""
    k, v = spec.key_cols, spec.value_col
    if spec.func == "mcount":
        out = contrib.groupby(k, dropna=False).size().reset_index(name=v)
    else:
        g = contrib.groupby(k, as_index=False, dropna=False)
        if spec.func == "msum":
            # min_count=1: an all-NULL group sums to NULL like Spark's SUM,
            # not pandas' default 0
            out = g[v].sum(min_count=1)
        else:
            out = {"mmin": g[v].min, "mmax": g[v].max}[spec.func]()
    return out[cols_order]


def _merge_monotonic_pd(table, cand, key_cols, value_col, func, cols):
    """pandas mirror of fixpoint._merge_monotonic's NULL contract (its
    eqNullSafe delta filter): a NEW group reports once even when its value
    is NULL; a stored NULL is improved by any real value (mmin/mmax skip
    NULLs, so the combined aggregate is the real value); NULL vs NULL is
    NOT a change. The old `oldv.isna() | (new < old)` test could not tell
    "new group" from "stored NULL", so a cycle whose only labels are NULL
    ping-ponged 'improvements' forever — an in-task infinite loop that
    crashed the python workers. A presence column tells the two apart in
    ONE merge, and improved groups replace their stored rows by a keyed
    keep-last dedup (both sides are unique per key) instead of a second
    anti-merge over the whole table. Returns (new_table, improved)."""
    import pandas as pd

    old = table.assign(__present=True)
    m = cand.merge(old, on=key_cols, how="left", suffixes=("", "__old"))
    oldv = m[value_col + "__old"]
    newv = m[value_col]
    chg = (newv < oldv) if func == "mmin" else (newv > oldv)
    if hasattr(chg, "fillna"):  # nullable extension dtypes compare to pd.NA
        chg = chg.fillna(False)
    better = (
        m["__present"].isna()
        | (oldv.isna() & newv.notna())
        | chg.astype(bool)
    )
    improved = m.loc[better, cols].reset_index(drop=True)
    if not len(improved):
        return table, improved
    merged = pd.concat([table, improved], ignore_index=True)
    return (
        merged.drop_duplicates(key_cols, keep="last").reset_index(drop=True),
        improved,
    )


def _run_mixed_pd(
    seeds, rules_by_pred, clique_preds, statics, agg_specs, growth=DEFAULT_GROWTH
):
    """In-task mixed set + monotonic-aggregate PSN loop: the pandas mirror
    of fixpoint.fixpoint_mixed (plain preds keep result sets; mmin/mmax
    preds keep best-value tables; mcount/msum preds keep a distinct support
    set plus a running additive table; deltas are new tuples / changed
    groups)."""
    import pandas as pd

    cols = {p: list(df.columns) for p, df in seeds.items()}
    dtypes = {p: dict(df.dtypes) for p, df in seeds.items()}
    all_: dict = {}
    support: dict = {}
    delta: dict = {}
    for p, df in seeds.items():
        spec = agg_specs.get(p)
        if spec is None:
            d = df.drop_duplicates().reset_index(drop=True)
            all_[p] = d
            delta[p] = d
        else:
            sup = df.drop_duplicates().reset_index(drop=True)
            if spec.additive:
                support[p] = sup
            t = _aggregate_pd(spec, cols[p], sup)
            all_[p] = t
            delta[p] = t
    budget = _budget(
        growth,
        sum(len(df) for df in all_.values())
        + sum(len(df) for df in support.values()),
    )

    while True:
        new_delta = {}
        for p in all_:
            cands = [
                _eval_rule_pd(
                    r, clique_preds, delta, statics, p in agg_specs,
                    all_frames=all_, delta_occ=j,
                )
                for r in rules_by_pred.get(p, [])
                for j in range(max(1, _clique_occurrence_count(r, clique_preds)))
            ]
            cands = [c for c in cands if len(c)]
            if not cands:
                new_delta[p] = all_[p].iloc[0:0]
                continue
            new = _cast_like_pd(
                pd.concat(cands, ignore_index=True), dtypes[p]
            ).drop_duplicates()
            spec = agg_specs.get(p)
            if spec is None:
                m = new.merge(all_[p], on=cols[p], how="left", indicator=True)
                nd = m.loc[m["_merge"] == "left_only", cols[p]].reset_index(drop=True)
                if len(nd):
                    all_[p] = pd.concat([all_[p], nd], ignore_index=True)
                new_delta[p] = nd
            elif spec.additive:
                m = new.merge(support[p], on=cols[p], how="left", indicator=True)
                fresh = m.loc[m["_merge"] == "left_only", cols[p]].reset_index(drop=True)
                if not len(fresh):
                    new_delta[p] = all_[p].iloc[0:0]
                    continue
                support[p] = pd.concat([support[p], fresh], ignore_index=True)
                k, v = spec.key_cols, spec.value_col
                inc = _aggregate_pd(spec, cols[p], fresh)
                mm = all_[p].merge(inc, on=k, how="outer", suffixes=("", "__inc"))
                # NULL-contribution contract: a missing side is the additive
                # identity, but old-NULL + inc-NULL must stay NULL (Spark's
                # SUM skips nulls; all-null = NULL, never 0)
                both_na = mm[v].isna() & mm[v + "__inc"].isna()
                mm[v] = mm[v].fillna(0) + mm[v + "__inc"].fillna(0)
                if both_na.any():
                    mm.loc[both_na, v] = None
                all_[p] = mm[cols[p]]
                new_delta[p] = (
                    all_[p].merge(inc[k], on=k, how="inner")[cols[p]]
                    .reset_index(drop=True)
                )
            else:
                k, v = spec.key_cols, spec.value_col
                cand = _aggregate_pd(spec, cols[p], new)
                all_[p], improved = _merge_monotonic_pd(
                    all_[p], cand, k, v, spec.func, cols[p]
                )
                new_delta[p] = improved
        if not any(len(d) for d in new_delta.values()):
            break
        _check_growth(
            sum(len(df) for df in all_.values())
            + sum(len(df) for df in support.values()),
            budget,
        )
        delta = new_delta
    return all_


def _run_monotonic_pd(
    seed_pre, rules, clique_preds, statics, key_cols, value_col, func,
    growth=DEFAULT_GROWTH,
):
    """In-task monotonic (mmin/mmax) loop: keyed table, keep improved groups
    (AggregateSetRDDMinMaxPartition.update semantics,
    AggregateSetRDDMinMaxPartition.scala:42-57)."""
    import pandas as pd

    cols = list(seed_pre.columns)
    dtypes = dict(seed_pre.dtypes)
    agg = "min" if func == "mmin" else "max"

    def aggregate(df):
        return df.groupby(key_cols, as_index=False, dropna=False)[value_col].agg(agg)[cols]

    table = aggregate(seed_pre)
    budget = _budget(growth, len(table))
    delta = table
    while len(delta):
        dmap = {p: delta for p in clique_preds}
        amap = {p: table for p in clique_preds}
        # non-linear rules expand to per-occurrence delta variants
        # (occurrence j reads the improved rows, the rest read the table)
        cands = [
            _eval_rule_pd(
                r, clique_preds, dmap, statics, True,
                all_frames=amap, delta_occ=j,
            )
            for r in rules
            for j in range(max(1, _clique_occurrence_count(r, clique_preds)))
        ]
        new = pd.concat(cands, ignore_index=True)
        if not len(new):
            break
        cand = aggregate(_cast_like_pd(new, dtypes))
        table, improved = _merge_monotonic_pd(
            table, cand, key_cols, value_col, func, cols
        )
        if not len(improved):
            break
        _check_growth(len(table), budget)
        delta = improved
    return table


# ------------------------------------------------------------ driver API
# pandas dtypes per Spark schema (memoized on schema JSON — a pure
# function of the schema). The probe goes through toPandas itself so the
# mapping can never drift from what a real collect produces, but on a
# limit(0) frame: OptimizeLimitZero folds it to a LocalRelation, so the
# probe is job-free — the RDD-backed createDataFrame([], schema)
# .toPandas() it replaces scheduled defaultParallelism EMPTY tasks per
# call (measured 0.34 s per probe at local[32]).
_SCHEMA_DTYPES_MEMO: dict[str, dict] = {}


def schema_pd_dtypes(spark: SparkSession, schema) -> dict:
    key = schema.json()
    hit = _SCHEMA_DTYPES_MEMO.get(key)
    if hit is None:
        hit = dict(
            spark.createDataFrame([], schema).limit(0).toPandas().dtypes
        )
        _SCHEMA_DTYPES_MEMO[key] = hit
    return dict(hit)


def _static_pd(df, pd_cache=None):
    """toPandas a static relation, memoized per DataFrame object when the
    caller supplies a cache (the context's program-lifetime dict, cleared
    on load_program/reset): a static shared by several cliques — or by
    successive queries over the same program — is collected from the
    cluster once, not once per clique. Entries pin the DataFrame itself so
    a recycled id() can never alias a different plan. Static entries are
    2-tuples and live for the program; driver-tier RESULT entries are
    3-tuples and FIFO-capped (_EPHEMERAL_CAP)."""
    if pd_cache is None:
        return df.toPandas()
    hit = pd_cache.get(id(df))
    if hit is None:
        hit = (df, df.toPandas())
        pd_cache[id(df)] = hit
    return hit[1]


def _collect_statics(spark: SparkSession, statics: dict, bc_cache: dict,
                     pd_cache=None):
    """toPandas each static relation once and ship the dict as ONE broadcast
    variable (torrent-distributed, like the reference's per-iteration
    broadcast join sides — but shipped a single time for the whole loop).
    The broadcast is memoized per statics set in ``bc_cache`` (the
    context's program-lifetime dict, destroyed on reset/load_program/
    register): every in-task goal over the same statics reuses it instead
    of pickling and shipping the same dict again. Entries pin the frames
    so a recycled id() can never alias a different plan."""
    key = tuple(sorted((name, id(df)) for name, df in statics.items()))
    hit = bc_cache.get(key)
    if hit is not None:
        return hit[1]
    statics_pd = {name: _static_pd(df, pd_cache) for name, df in statics.items()}
    bc = spark.sparkContext.broadcast(statics_pd)
    bc_cache[key] = (tuple(statics.values()), bc)
    return bc


def broadcast_seed_statics(spark: SparkSession, seeds_pd: dict, statics: dict,
                           track=None, pd_cache=None):
    """ONE broadcast of (seed frames, statics-as-pandas) shared by every
    per-pred seed-broadcast call of a clique: the payload is identical
    across the preds (only ``out_pred`` differs), so collecting each
    static's plan and torrent-shipping the dict happens once per clique
    instead of once per predicate."""
    statics_pd = {k: _static_pd(v, pd_cache) for k, v in statics.items()}
    return _track(spark.sparkContext.broadcast((seeds_pd, statics_pd)), track)


def _track(bc, track):
    """Register a broadcast on the caller's cleanup list (the context
    destroys tracked broadcasts on reset()): seeds+statics run MBs each,
    and ContextCleaner only reclaims them after both Python and JVM GCs —
    thousands of queries in one session would otherwise accumulate them."""
    if track is not None:
        track.append(bc)
    return bc


def driver_exit_seed(
    rules,
    statics_pd: dict,
    target_dtypes: dict,
    bound=None,
    pre_aggregate: bool = False,
    distinct: bool = True,
):
    """Evaluate a predicate's EXIT rules in pandas: exit bodies reference
    only statics (never clique predicates), so when every static is already
    driver-resident — and for a local-path clique they are, collected for
    the seeds/statics broadcast — the seed needs no cluster job at all.
    Mirrors the Spark pipeline exactly: union of per-rule head projections,
    the bound-goal seed filter, then the distinct + dtype widening that
    _widen_seed applies (``target_dtypes`` comes from the widened seed
    plan's limit(0) frame — a job-free fetch). ``pre_aggregate`` keeps
    AggTerm heads raw for mixed/monotonic cliques, like
    pre_aggregate_projection; ``distinct`` mirrors each caller's Spark
    pipeline (seminaive and mixed seeds dedup — mixed loops keep distinct
    support sets — the monotonic contribution stream does not)."""
    import pandas as pd

    cols = list(target_dtypes)
    frames = [
        _eval_rule_pd(
            r, frozenset(), {}, statics_pd, pre_aggregate,
            unit_if_no_atoms=True,
        )
        for r in rules
    ]
    seed = (
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame(columns=cols)
    )
    seed = seed.set_axis(cols, axis=1)
    for pos, value in bound or []:
        seed = seed[seed.iloc[:, pos] == value]
    seed = _cast_like_pd(seed, target_dtypes)
    if distinct:
        seed = seed.drop_duplicates()
    return seed.reset_index(drop=True)


# Result-frame memo entries are EPHEMERAL (3-tuples, flag True) and
# FIFO-capped: unlike statics — bounded by the number of registered
# relations and deliberately memoized across queries — every distinct
# bound goal mints a fresh md5-suffixed result, so a long-lived context
# serving many bound queries would otherwise pin an unbounded set of
# (DataFrame, pandas) pairs on the driver.
_EPHEMERAL_CAP = 32


def _driver_result_df(spark: SparkSession, pdf, schema, pd_cache=None):
    """Lift a driver-computed fixpoint result into a DataFrame. The frame is
    Arrow-parallelized (RDD-backed), so Catalyst has no stats for it — the
    known row count rides along as a tag that _estimated_bytes honors, and
    the pandas original pre-seeds the statics memo so a downstream stratum
    (magic → guarded) consumes it without any collect job. Result entries
    are flagged ephemeral and FIFO-capped (see _EPHEMERAL_CAP) so they
    never grow the memo unboundedly; evicting one only costs a re-collect
    if that exact frame is consumed as a static again later."""
    df = spark.createDataFrame(pdf, schema=schema)
    # createDataFrame(pandas) always splits into defaultParallelism Arrow
    # slices, so a 63-row result becomes 32 two-row partitions and EVERY
    # downstream stage schedules 32 tasks of pure fixed cost (measured:
    # the MLM strata pay 3-4 such 32-task stages per query). Coalesce
    # (narrow, no shuffle) to ~64Ki rows per slice; large results keep
    # their parallelism (coalesce never raises the partition count).
    n_slices = max(1, -(-len(pdf) // 65536))
    if n_slices < spark.sparkContext.defaultParallelism:
        df = df.coalesce(n_slices)
    df._bdlog_known_rows = len(pdf)
    if pd_cache is not None:
        eph = [k for k, v in pd_cache.items() if len(v) > 2]
        for k in eph[: max(0, len(eph) + 1 - _EPHEMERAL_CAP)]:
            del pd_cache[k]
        pd_cache[id(df)] = (df, pdf, True)
    return df


def driver_seminaive(
    spark: SparkSession,
    seeds: dict,
    rules_by_pred: dict,
    clique_preds,
    statics: dict,
    pd_cache=None,
    growth=DEFAULT_GROWTH,
):
    """Driver-side tier for set-semantics fixpoints that would run in ONE
    task anyway: non-linear cliques (slicing cannot serve them), and linear
    cliques whose seed the pivot sizing (pivot_tasks) or the slice sizing
    (seed_slices) gives a single task — e.g. a bound goal's few-row seed.
    The seeds and statics are already on the driver, so running the
    identical in-task PSN loop right here removes the job launch, the
    torrent broadcast, and the Arrow roundtrip: the fixed per-clique
    overhead that dominates small interactive recursions. Scale safety is
    unchanged — the same growth budget aborts runaway closures (returns
    None; the caller falls back to the spill-capable distributed loop,
    exactly as it does for an in-task abort).

    ``seeds``: pred -> (pandas frame, Spark schema). Returns pred ->
    DataFrame for EVERY clique predicate (the multi-pred loop computes them
    all at once), or None on growth abort."""
    statics_pd = {k: _static_pd(v, pd_cache) for k, v in statics.items()}
    seeds_pd = {p: pdf for p, (pdf, _) in seeds.items()}
    rules_by_pred = {p: list(rs) for p, rs in rules_by_pred.items()}
    try:
        result = _run_seminaive_multi_pd(
            seeds_pd, rules_by_pred, frozenset(clique_preds), statics_pd,
            growth=growth,
        )
    except LocalGrowthExceeded:
        return None
    return {
        p: _driver_result_df(spark, result[p], seeds[p][1], pd_cache)
        for p in seeds
    }


def driver_mixed(
    spark: SparkSession,
    seeds_pd: dict,
    out_schemas: dict,
    rules_by_pred: dict,
    clique_preds,
    statics: dict,
    agg_specs: dict,
    pd_cache=None,
    growth=DEFAULT_GROWTH,
):
    """Driver-side tier for MIXED cliques. seed_broadcast_mixed always runs
    exactly one task (additive thresholds need global counts — no slicing),
    so the driver run is the same computation minus the per-clique job
    overhead. Returns pred -> DataFrame, or None on growth abort."""
    statics_pd = {k: _static_pd(v, pd_cache) for k, v in statics.items()}
    rules_by_pred = {p: list(rs) for p, rs in rules_by_pred.items()}
    try:
        result = _run_mixed_pd(
            seeds_pd, rules_by_pred, frozenset(clique_preds), statics_pd,
            agg_specs, growth=growth,
        )
    except LocalGrowthExceeded:
        return None
    out = {}
    for p in seeds_pd:
        out_schema = out_schemas[p]
        out_dtypes = schema_pd_dtypes(spark, out_schema)
        pdf = _cast_like_pd(result[p], out_dtypes)
        out[p] = _driver_result_df(spark, pdf, out_schema, pd_cache)
    return out


# in-task fan-out: the pivot tier gives each task 32 KiB of seed (an exact
# row count is costed at ROW_BYTES a row); the slice tier gives each task
# ~64 seed closures. The context asks these same functions whether a
# fixpoint would run as ONE task, and then runs it on the driver instead.
_PIVOT_TASK_BYTES = 32 * 1024
ROW_BYTES = 64
_SLICE_SEEDS = 64


def pivot_tasks(spark: SparkSession, seed_bytes: int) -> int:
    """Tasks the pivot tier schedules for ``seed_bytes`` of seed, capped at
    the session's shuffle width."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, -(-seed_bytes // _PIVOT_TASK_BYTES)))


def pivot_one_task_rows(spark: SparkSession) -> int | None:
    """Most seed rows pivot_tasks still runs in ONE task; None when every
    row count does (a one-partition session)."""
    if int(spark.conf.get("spark.sql.shuffle.partitions")) <= 1:
        return None
    return _PIVOT_TASK_BYTES // ROW_BYTES


def seed_slices(spark: SparkSession, total: int) -> int:
    """Tasks the seed-broadcast tier schedules for ``total`` seed rows of a
    linear clique: ~64 seed closures per task amortize the per-task launch
    + pandas fixpoint overhead, so tiny seed sets stop paying session-width
    fan-out (63 seeds ran 32 two-seed tasks of fixed cost)."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, -(-total // _SLICE_SEEDS)))


def _seed_sized_partitions(spark: SparkSession, seed: DataFrame) -> int:
    """Pivot-partition count for one in-task fixpoint, sized from the
    seed's Catalyst byte estimate (driver-side stats, no job) — the same
    scale-adaptive discipline as fixpoint._loop_partitions. 32 KiB of
    seed per task keeps mid-size seeds wide (dl_tc's ~20K-row seed still
    fans out ~10 ways) while a 63-row seed (the MLM sponsor tree) runs in
    ONE task instead of 32 tasks of pure fixed cost. Production-scale
    seeds hit the session cap and are unchanged; unknown stats (RDD-backed
    frames without a known-rows tag) keep the cap too."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        b = int(seed._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return cap
    if b < 0 or b > (1 << 50):
        known = getattr(seed, "_bdlog_known_rows", None)
        if known is None:
            return cap
        b = known * ROW_BYTES
    return pivot_tasks(spark, b)


def local_seminaive_fixpoint(
    spark: SparkSession,
    seed: DataFrame,
    rules,
    clique_preds,
    statics: dict,
    pivot_cols: list,
    bc_cache: dict,
    num_partitions: int | None = None,
    growth=DEFAULT_GROWTH,
    pd_cache=None,
) -> DataFrame:
    """One-job decomposable fixpoint: repartition seed on the pivot, run the
    whole PSN loop inside each partition."""
    bc = _collect_statics(spark, statics, bc_cache, pd_cache)
    n = num_partitions or _seed_sized_partitions(spark, seed)
    part = seed.repartition(n, *pivot_cols)
    rules = list(rules)
    cset = frozenset(clique_preds)

    def mapper(batches):
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        seed_pdf = pd.concat(parts, ignore_index=True)
        result = _run_seminaive_pd(seed_pdf, rules, cset, bc.value, growth=growth)
        for start in range(0, len(result), _YIELD_ROWS):
            yield result.iloc[start : start + _YIELD_ROWS]

    return part.mapInPandas(mapper, schema=seed.schema)


def seed_broadcast_seminaive(
    spark: SparkSession,
    seeds: dict,
    out_pred: str,
    rules_by_pred: dict,
    clique_preds,
    statics: dict,
    num_slices: int | None = None,
    track=None,
    growth=DEFAULT_GROWTH,
    bc=None,
) -> DataFrame:
    """Small-seed local fixpoint for cliques WITHOUT a stable pivot
    (single-source reachability, mutual even/odd, ...).

    Linearity means every derivation chain traces back to exactly ONE seed
    tuple, so closure(∪seeds) = ∪ closure(seed_i): slice the (small,
    gated) seed set round-robin across tasks, broadcast seeds + statics,
    and run the full multi-predicate fixpoint per slice over a
    parallelized slice-id range. Slices may re-derive the same tuple, so
    the caller must re-distinct (or re-aggregate) the union — one shuffle,
    versus one-plus jobs per iteration on the distributed path.

    NON-LINEAR cliques must pass ``num_slices=1``: a non-linear derivation
    combines tuples from different seeds' closures, so the slicing
    identity above does not hold and the whole fixpoint has to see every
    seed in one task (the in-task loop itself handles non-linear rules via
    per-occurrence delta variants).

    ``seeds``: pred -> (driver pandas frame, Spark schema). Returns the
    fixpoint of ``out_pred`` only; other preds' results are discarded
    (callers build one lazy frame per pred — unqueried preds never run)."""
    seeds_pd = {p: pdf for p, (pdf, _) in seeds.items()}
    out_schema = seeds[out_pred][1]
    total = sum(len(pdf) for pdf in seeds_pd.values())
    # slice count sized to the (driver-resident, gated-small) seed count;
    # callers that need a specific width (non-linear cliques:
    # num_slices=1) are untouched
    n = num_slices or seed_slices(spark, total)
    if bc is None:
        bc = broadcast_seed_statics(spark, seeds_pd, statics, track)
    rules_by_pred = {p: list(rs) for p, rs in rules_by_pred.items()}
    cset = frozenset(clique_preds)
    ids = spark.range(0, n, 1, n)

    def mapper(batches):
        import pandas as pd

        my_ids = [int(i) for b in batches for i in b["id"]]
        if not my_ids:
            return
        seeds_all, statics_pd = bc.value
        picked = set(my_ids)
        sliced = {
            p: pdf.iloc[[i for i in range(len(pdf)) if i % n in picked]]
            for p, pdf in seeds_all.items()
        }
        result = _run_seminaive_multi_pd(
            sliced, rules_by_pred, cset, statics_pd, growth=growth
        )[out_pred]
        for start in range(0, len(result), _YIELD_ROWS):
            yield result.iloc[start : start + _YIELD_ROWS]

    return ids.mapInPandas(mapper, schema=out_schema).distinct()


def seed_broadcast_mixed(
    spark: SparkSession,
    seeds_pd: dict,
    out_pred: str,
    out_schema,
    out_dtypes: dict,
    rules_by_pred: dict,
    clique_preds,
    statics: dict,
    agg_specs: dict,
    track=None,
    growth=DEFAULT_GROWTH,
    bc=None,
) -> DataFrame:
    """Small-seed local fixpoint for a MIXED (set + monotonic-aggregate)
    clique. Unlike seed_broadcast_seminaive there is NO seed slicing: an
    additive aggregate's threshold condition (e.g. `cnt(Y,N), N >= 3`)
    needs the GLOBAL count, so closure(∪seeds) ≠ ∪closure(seed_i) — the
    whole fixpoint runs in exactly one task over broadcast seeds + statics.
    One Spark job versus 3+ jobs per iteration on the distributed path;
    the right trade whenever the statics pass the broadcast byte gate and
    the seed is small (percolation/threshold queries from few sources)."""
    if bc is None:
        bc = broadcast_seed_statics(spark, seeds_pd, statics, track)
    rules_by_pred = {p: list(rs) for p, rs in rules_by_pred.items()}
    cset = frozenset(clique_preds)
    ids = spark.range(0, 1, 1, 1)

    def mapper(batches):
        rows = sum(len(b) for b in batches)
        if not rows:
            return
        seeds_all, statics_pd = bc.value
        result = _run_mixed_pd(
            seeds_all, rules_by_pred, cset, statics_pd, agg_specs, growth=growth
        )[out_pred]
        result = _cast_like_pd(result, out_dtypes)
        for start in range(0, len(result), _YIELD_ROWS):
            yield result.iloc[start : start + _YIELD_ROWS]

    return ids.mapInPandas(mapper, schema=out_schema)


def seed_broadcast_monotonic(
    spark: SparkSession,
    seed_pd,
    seed_schema,
    rules,
    clique_preds,
    statics: dict,
    key_cols: list,
    value_col: str,
    func: str,
    num_slices: int | None = None,
    track=None,
    growth=DEFAULT_GROWTH,
    pd_cache=None,
) -> DataFrame:
    """Small-seed monotonic (mmin/mmax) fixpoint without a stable pivot
    (e.g. single-source shortest paths). Same slicing argument as
    seed_broadcast_seminaive; local tables prune only locally-dominated
    paths, which are globally dominated too, so re-aggregating the task
    tables with min/max yields the exact global fixpoint."""
    from pyspark.sql import functions as F

    # ~64 seed closures per slice (seed_slices): heavy per-seed fixpoints
    # (all-pairs shapes) still hit the session cap
    n = num_slices or seed_slices(spark, len(seed_pd))
    bc = _track(
        spark.sparkContext.broadcast(
            (seed_pd, {k: _static_pd(v, pd_cache) for k, v in statics.items()})
        ),
        track,
    )
    rules = list(rules)
    cset = frozenset(clique_preds)
    ids = spark.range(0, n, 1, n)

    def mapper(batches):
        import pandas as pd

        my_ids = [int(i) for b in batches for i in b["id"]]
        if not my_ids:
            return
        seed_all, statics_pd = bc.value
        picked = set(my_ids)
        sliced = seed_all.iloc[[i for i in range(len(seed_all)) if i % n in picked]]
        result = _run_monotonic_pd(
            sliced, rules, cset, statics_pd, key_cols, value_col, func,
            growth=growth,
        )
        for start in range(0, len(result), _YIELD_ROWS):
            yield result.iloc[start : start + _YIELD_ROWS]

    agg = F.min if func == "mmin" else F.max
    out = ids.mapInPandas(mapper, schema=seed_schema)
    cols = [f.name for f in seed_schema.fields]
    return (
        out.groupBy(*key_cols)
        .agg(agg(F.col(value_col)).alias(value_col))
        .select(*cols)
    )


def local_monotonic_fixpoint(
    spark: SparkSession,
    seed_pre: DataFrame,
    rules,
    clique_preds,
    statics: dict,
    pivot_cols: list,
    key_cols: list,
    value_col: str,
    func: str,
    bc_cache: dict,
    num_partitions: int | None = None,
    growth=DEFAULT_GROWTH,
    pd_cache=None,
) -> DataFrame:
    """One-job decomposable monotonic-aggregate fixpoint. ``seed_pre`` is the
    un-aggregated exit-rule contribution stream; aggregation happens in-task
    (groups never straddle partitions because pivot ⊆ group keys)."""
    bc = _collect_statics(spark, statics, bc_cache, pd_cache)
    # seed-sized pivot width (see _seed_sized_partitions): tiny
    # contribution streams stop fanning out to session-width tasks
    n = num_partitions or _seed_sized_partitions(spark, seed_pre)
    part = seed_pre.repartition(n, *pivot_cols)
    rules = list(rules)
    cset = frozenset(clique_preds)

    def mapper(batches):
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        seed_pdf = pd.concat(parts, ignore_index=True)
        result = _run_monotonic_pd(
            seed_pdf, rules, cset, bc.value, key_cols, value_col, func,
            growth=growth,
        )
        for start in range(0, len(result), _YIELD_ROWS):
            yield result.iloc[start : start + _YIELD_ROWS]

    return part.mapInPandas(mapper, schema=seed_pre.schema)
