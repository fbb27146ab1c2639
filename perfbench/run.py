"""Datalog engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload closure --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` (perfbench/inputs.py), starts a ``local[4]`` session through
``build_session``, and drives the public API (``load_program``,
``register_file``, ``query`` and a noop-sink write) from one client in a
closed loop. A run does a fixed amount of work sized to last about
``--seconds`` on a 4-core host, so both sides of a comparison measure the
same queries, and checks every answer against an oracle outside the timed
region.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics instead, from queries that alternate between traced and
untraced, so the same run also measures the tracing overhead. Human-
readable lines go first; the last line of standard output is the JSON
result. Scratch files live under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
DRIVER_MEMORY = "4g"  # the session default (48g) exceeds a 15 GB host
# A fixed-size heap and young generation: G1's adaptive sizing otherwise
# makes the JVM's peak resident set differ by 20% between identical runs.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn1g -XX:-UsePerfData"
SETUPS = 3  # set-ups per run; setup_s is their median
WARMUP_SECONDS = 3.0  # bound_goals: three warm-up goals
WORKLOADS = ("closure", "bound_goals", "relational")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "answered_frac": "ratio",
    "peak_rss_mb": "MB",
}
# per-layer metric -> (unit, the end-to-end metric it should move, and where)
PER_LAYER = {
    "parser.parse_s": ("s", "query_p50_s on bound_goals; nothing measurable on closure"),
    "parser.calls": ("count", "query_p50_s on bound_goals"),
    "semantics.analyze_s": ("s", "query_p50_s on bound_goals; nothing measurable on closure"),
    "compiler.body_s": ("s", "wall_s on relational"),
    "compiler.rules": ("count", "wall_s on relational"),
    "context.query_s": ("s", "splits every end-to-end timing with context.materialize_s"),
    "context.materialize_s": ("s", "splits every end-to-end timing with context.query_s"),
    "fixpoint.seminaive_s": ("s", "wall_s on closure; no change on relational"),
    "fixpoint.seminaive_calls": ("count", "wall_s on closure; no change on relational"),
    "fixpoint.monotonic_s": ("s", "wall_s on closure; no change on relational"),
    "fixpoint.monotonic_calls": ("count", "wall_s on closure; no change on relational"),
    "fixpoint.mixed_s": ("s", "wall_s on closure; no change on relational"),
    "fixpoint.mixed_calls": ("count", "wall_s on closure; no change on relational"),
    "local_eval.driver_s": ("s", "query_p50_s and query_p90_s on bound_goals"),
    "local_eval.driver_calls": ("count", "query_p50_s and query_p90_s on bound_goals"),
    "local_eval.task_s": ("s", "query_p50_s and query_p90_s on bound_goals (plan-build time; execution is in spark.job_s)"),
    "local_eval.task_calls": ("count", "query_p50_s and query_p90_s on bound_goals"),
    "local_eval.bailouts": ("count", "query_p90_s on bound_goals: a bailout pays for both tiers"),
    "sources.load_s": ("s", "wall_s on relational"),
    "spark.jobs": ("count", "wall_s on closure"),
    "spark.stages": ("count", "wall_s on closure"),
    "spark.tasks": ("count", "wall_s on relational"),
    "spark.failed_tasks": ("count", "answered_frac and wall_s on every workload"),
    "spark.job_s": ("s", "every end-to-end timing"),
    "spark.driver_gap_s": ("s", "wall_s on closure"),
    "spark.leaked_rdds": ("count", "peak_rss_mb and query_p90_s on bound_goals"),
    "rows_out": ("count", "none: a change in it is a change in the answers"),
    "failed_frac": ("ratio", "answered_frac, its complement"),
    "trace.overhead_s": ("s", "none: traced minus untraced latency over one pass"),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.spark = None
        self.ctx = None
        self.latencies: list[float] = []
        self.by_key: dict[tuple[str, bool], list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.rows_out = 0
        self.leaked = 0
        self.expected: dict = {}
        self.layers: Counter = Counter()
        self.census: dict[str, Counter] = defaultdict(Counter)
        self.traced_queries = 0
        self.check_s = 0.0  # answer checks: collect + oracle, untimed

    # ---------------------------------------------------------- set-up
    def start_session(self):
        from bigdatalog_spark import build_session

        spark = build_session(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} {JVM_OPTIONS}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, workload, paths: dict[str, str]) -> list[float]:
        from bigdatalog_spark import BigDatalogContext

        times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            # JVM and codegen warm-up through a parquet scan, a shuffle and
            # the noop sink
            self.spark.range(1000).selectExpr("sum(id)").collect()
            first = next(iter(paths.values()))
            scan = self.spark.read.parquet(first)
            scan.groupBy(scan.columns[0]).count().write.format("noop").mode("overwrite").save()
            self.ctx = BigDatalogContext(self.spark)
            self.ctx.load_program(workload.setup_program)
            for name, path in paths.items():
                self.ctx.register_file(name, path)
            times.append(time.perf_counter() - t0)
        if workload.reset_each_query:
            self.ctx.reset()  # every query loads its own program
        return times

    def warmup(self, workload, paths: dict[str, str]) -> dict[str, float]:
        """Untimed: one short pass over the small warm-up inputs, so the
        JVM's JIT has compiled the measured queries' hot paths before timing
        starts (a cold first pass runs up to twice as long)."""
        from bigdatalog_spark import BigDatalogContext
        from bigdatalog_spark.datalog.context import EngineConfig

        ctx = BigDatalogContext(self.spark, EngineConfig(**workload.warmup_config))
        times = {}
        for q in workload.plan(WARMUP_SECONDS)[0]:
            t0 = time.perf_counter()
            ctx.load_program(q.program)
            for name in q.relations:
                ctx.register_file(name, paths[name])
            ctx.query(q.goal).write.format("noop").mode("overwrite").save()
            ctx.reset()
            times[q.key] = times.get(q.key, 0.0) + time.perf_counter() - t0
        return times

    # ---------------------------------------------------------- one query
    def run_query(self, workload, paths, q, index: int, tracer) -> float:
        from workloads import answer
        import tracing

        spark, ctx = self.spark, self.ctx
        group = f"perfbench-{index}"
        if tracer is not None:
            tracer.query = index
            tracer.install()
            spark.sparkContext.setJobGroup(group, q.key)
        self.attempted += 1
        ok = False
        t0 = tq = tm = time.perf_counter()
        try:
            if workload.reset_each_query:
                ctx.load_program(q.program)
                for name in q.relations:
                    ctx.register_file(name, paths[name])
            tq = time.perf_counter()
            df = ctx.query(q.goal)
            tm = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            ok = True
        except Exception:
            t1 = time.perf_counter()
            traceback.print_exc(file=sys.stderr)
        finally:
            if tracer is not None:
                tracer.uninstall()
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        latency = t1 - t0
        if tracer is not None:
            tracer.record("query", tq, tm)
            tracer.record("materialize", tm, t1)
            self.layers.update(tracing.spark_jobs(spark, group))
            self.census[q.key].update(tracer.census(index))
            self.census[q.key]["traced"] += 1
            self.layers["local_eval.bailouts"] += tracer.bailouts(index)
            self.traced_queries += 1
        # answer check, outside the timed region
        t_check = time.perf_counter()
        if ok:
            try:
                got = answer(df.toPandas())
                self.rows_out += got.rows
                want = self.expected.get((q.key, q.goal))
                if want is None:
                    want = self.expected[(q.key, q.goal)] = workload.oracle(q)
                ok = got == want
                if not ok:
                    print(f"WRONG ANSWER {q.key} {q.goal!r}: got {got}, want {want}", file=sys.stderr)
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
        self.failed += not ok
        self.check_s += time.perf_counter() - t_check
        if workload.reset_each_query:
            self.reset_and_count_leaks()
        return latency

    def reset_and_count_leaks(self) -> None:
        """ctx.reset(), then count the persistent RDDs it left behind and
        release them, so every query starts from a clean block store."""
        import tracing

        self.ctx.reset()
        self.leaked += tracing.persistent_rdds(self.spark)
        tracing.release_rdds(self.spark)

    # ---------------------------------------------------------- the run
    def run(self) -> dict:
        import inputs
        import tracing
        import workloads

        args = self.args
        make = workloads.WORKLOADS[args.workload]
        tables = inputs.tables(args.workload, args.seed)
        paths = inputs.write(tables, str(self.work / "inputs"))
        workload = make(tables, args.seed)
        setup_times = self.setup(workload, paths)
        small = inputs.tables(args.workload, args.seed, inputs.WARMUP_SIZES[args.workload])
        warmup_s = self.warmup(make(small, args.seed), inputs.write(small, str(self.work / "warmup")))

        tracer = tracing.Tracer() if args.trace else None
        passes = workload.plan(args.seconds)
        if tracer is not None and workload.reset_each_query:
            # traced and untraced queries alternate. A fixed query set runs
            # four passes, each query traced in either the middle two or
            # the outer two, so warming up later does not favour either side
            passes = [passes[0]] * 4
        walls, index = [], 0
        for p, stream in enumerate(passes):
            wall = 0.0
            flip = (0, 1, 1, 0)[p % 4]
            for j, q in enumerate(stream):
                traced = tracer is not None and (j + flip) % 2 == 1
                latency = self.run_query(workload, paths, q, index, tracer if traced else None)
                self.latencies.append(latency)
                self.by_key[(q.key, traced)].append(latency)
                wall += latency
                index += 1
            walls.append(wall)
        if not workload.reset_each_query:
            self.reset_and_count_leaks()
        peak = tracing.peak_rss_mb(os.getpid())

        deciles = statistics.quantiles(self.latencies, n=10, method="inclusive")
        e2e = {
            "setup_s": statistics.median(setup_times),
            "wall_s": statistics.median(walls),
            "query_p50_s": statistics.median(self.latencies),
            "query_p90_s": deciles[8],
            "answered_frac": (self.attempted - self.failed) / self.attempted,
            "peak_rss_mb": sum(peak.values()),
        }
        result = {
            "passes": len(passes),
            "queries_per_pass": len(passes[0]),
            "samples": len(self.latencies),
            "attempted": self.attempted,
            "failed": self.failed,
            "setups": setup_times,
            "warmup_s": warmup_s,
            "check_s": self.check_s,
            "rss": peak,
            "e2e": e2e,
            "by_key": {
                f"{key}{' (traced)' if traced else ''}": lat
                for (key, traced), lat in self.by_key.items()
            },
        }
        if tracer is not None:
            result["layers"] = self.layer_metrics(tracer, passes)
            result["census"] = {k: dict(v) for k, v in self.census.items()}
            result["spans"] = [vars(s) for s in tracer.spans]
        return result

    def layer_metrics(self, tracer, passes: list) -> dict:
        """Per-layer totals over the traced queries, scaled to one pass."""
        import tracing

        scale = len(passes[0]) / max(1, self.traced_queries)
        totals = Counter(self.layers)
        totals.update(tracing.layer_totals(tracer.spans))
        out = {name: totals.get(name, 0) * scale for name in PER_LAYER}
        out["spark.driver_gap_s"] = (
            out["context.query_s"] + out["context.materialize_s"] - out["spark.job_s"]
        )
        out["spark.leaked_rdds"] = self.leaked / len(passes)
        out["rows_out"] = self.rows_out / len(passes)
        out["failed_frac"] = self.failed / self.attempted
        # traced minus untraced latency per query shape, weighted by how
        # often the shape occurs in one pass
        counts = Counter(q.key for q in passes[0])
        overhead = 0.0
        for key, n in counts.items():
            on, off = self.by_key.get((key, True)), self.by_key.get((key, False))
            if on and off:
                overhead += n * (statistics.median(on) - statistics.median(off))
        out["trace.overhead_s"] = overhead
        return out

    # ---------------------------------------------------------- teardown
    def close(self) -> None:
        """Stop the session, then the JVM and its Python workers, and wait
        until every process this run started has ended."""
        import tracing

        kids = tracing.descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        left = tracing.reap(kids, timeout=30)
        if left:
            print(f"perfbench: processes still running: {left}", file=sys.stderr)


def report(args, result: dict) -> dict:
    """Print the human-readable report; return the JSON result line."""
    e2e = result["e2e"]
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"passes={result['passes']} queries/pass={result['queries_per_pass']} "
        f"samples={result['samples']} set-ups={[round(s, 3) for s in result['setups']]} "
        f"checks={result['check_s']:.1f}s warm-up="
        + ", ".join(f"{k} {v:.1f}s" for k, v in result["warmup_s"].items())
    )
    for name, unit in END_TO_END.items():
        print(f"  {name:24s} {e2e[name]:14.4f} {unit}")
    print("  peak rss by process: " + ", ".join(f"{k}={v:.0f}MB" for k, v in result["rss"].items()))
    for key, lat in result["by_key"].items():
        print(f"  latency {key}: n={len(lat)} median={statistics.median(lat):.3f}s max={max(lat):.3f}s")
    failed_frac = 1.0 - e2e["answered_frac"]
    print(f"  {'failed_frac':24s} {failed_frac:14.4f} ratio")
    if failed_frac:
        print("  ENGINE DEFECT: some queries raised or returned a wrong answer (see stderr)")
    if args.trace:
        for name, (unit, moves) in PER_LAYER.items():
            print(f"  {name:24s} {result['layers'][name]:14.4f} {unit:6s} -> {moves}")
        for key, tiers in sorted(result["census"].items()):
            calls = ", ".join(
                f"{t} x{c}" for t, c in sorted(tiers.items()) if t != "traced"
            ) or "no tier"
            print(f"  census {key}: {calls} (over {tiers['traced']} traced)")
        metrics = {n: {"value": result["layers"][n], "unit": u} for n, (u, _) in PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    failed = result["failed"]
    return {"correct": failed == 0, "attempted": result["attempted"], "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "bigdatalog_spark" / "__init__.py").is_file():
        print(f"perfbench: no bigdatalog_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in (work / "tmp", work / "spark", ROOT / ".perfbench_work" / "traces"):
        sub.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_LOCAL_DIRS=str(work / "spark"),
        TMPDIR=str(work / "tmp"),
    )
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    line = report(args, result)
    if args.trace:
        out = ROOT / ".perfbench_work" / "traces" / f"{args.workload}-seed{args.seed}.json"
        out.write_text(json.dumps({k: result[k] for k in ("census", "layers", "spans", "e2e")}))
        print(f"  trace written to {out.relative_to(ROOT)}")
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
