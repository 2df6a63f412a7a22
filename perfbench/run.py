"""Benchmark of the crawl engine and the data pipeline.

    python3 perfbench/run.py --workload crawl_floor --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: crawl_floor and pipeline_sf0.01
(see README.md in this directory). One process, one local[4] Spark session. The last stdout line is one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(a second, event-logged session; see metrics.py for every name). The line
before it reports host noise for the run. `--toy` shrinks every workload to
a few hundred rows (smoke test only). Exits non-zero without a result when
the repository or its inputs are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_floor", "pipeline_sf0.01")
SETUP_REPS = 3
# waves of the untimed crawl before the first timed one: the first crawl in
# a fresh JVM runs at about twice the steady-state wall (class loading, JIT,
# Python UDF worker imports), and the per-wave driver path keeps speeding up
# for a few waves more
WARMUP_WAVES = 4
# every untraced run times at least this many operations, however short
# --seconds is, and reports their medians
MIN_OPS = 3


class Ctx:
    """Run-scoped state shared by the workload drivers."""

    def __init__(self, args, work_dir: str):
        self.args = args
        self.work = work_dir
        self.seed = args.seed
        self.toy = args.toy
        self.spans = None  # where hook_groups records job-group changes
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    def record(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    def session(self, event_log: bool = False):
        from perfbench import common

        t0 = time.monotonic()
        log_dir = os.path.join(self.work, "eventlog") if event_log else None
        spark = common.start_session(self.work, log_dir)
        return spark, time.monotonic() - t0

    def hook_groups(self, spark) -> None:
        """Record in `self.spans` when each job group is set: the engine
        opens `wave-N` at the start of wave N."""
        sc = spark.sparkContext
        orig = sc.setJobGroup

        def hooked(gid, desc, *a, **kw):
            t = time.time()
            self.spans.spans.append((f"group:{gid}", t, t))
            return orig(gid, desc, *a, **kw)

        sc.setJobGroup = hooked


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def expected_crawl(cfg: dict, seed: int) -> dict | None:
    rec = load_expected().get("crawl_floor", {})
    if rec.get("config") != cfg:
        return None
    return rec.get("seeds", {}).get(str(seed))


# ------------------------------------------------------------------------ #
def run_crawl(ctx: Ctx, trace: bool) -> dict:
    from perfbench import common as c
    from perfbench import crawl, eventlog

    cfg = crawl.workload_config(ctx.toy)
    expected = None if ctx.toy else expected_crawl(cfg, ctx.seed)
    if expected is None and not ctx.toy:
        c.log(f"no recorded crawl outputs for seed {ctx.seed}: "
              "checking pixels and result counts only")
    spark, session_s = ctx.session()

    world_s, init_s = [], []
    for _ in range(1 if trace else SETUP_REPS):
        spark.catalog.clearCache()
        t0 = time.monotonic()
        world = crawl.World(spark, cfg, ctx.seed)
        t1 = time.monotonic()
        world.engine(spark, cfg["max_waves"])
        world_s.append(t1 - t0)
        init_s.append(time.monotonic() - t1)
    setups = [w + i for w, i in zip(world_s, init_s)]
    c.log(f"set up x{len(setups)}")
    # untimed warm-up crawl of the same world and seeds, run for more waves
    crawl.release(spark, crawl.crawl_once(
        spark, world, ctx.work, c.Spans(), max_waves=WARMUP_WAVES))
    c.log("warm-up crawl")

    ops: list = []

    def one_op(spans, stop_after=None):
        c.settle(spark)
        op = crawl.crawl_once(spark, world, ctx.work, spans, stop_after)
        obs = crawl.observe(spark, op)
        errs = crawl.check(obs, expected)
        if ops and obs != ops[0][1]:
            errs.append("crawl outputs differ between crawls of one seed")
        ctx.record(errs)
        ops.append((op, obs))
        c.log(f"crawl {op.wall_s:.2f}s" + (" (stop and resume)" if stop_after else ""))
        return op

    if not trace:
        t_end = time.monotonic() + ctx.args.seconds
        while len(ops) < MIN_OPS or time.monotonic() < t_end:
            crawl.release(spark, one_op(c.Spans()))
        spark.stop()
        return {
            "setup_s": session_s + c.median(setups),
            "wall_s": c.median([op.wall_s for op, _ in ops]),
            "items_per_s": c.median([op.urls / op.wall_s for op, _ in ops]),
            "step_geomean_s": c.median(
                [c.geomean([m["wall_sec"] for m in op.run.metrics]) for op, _ in ops]),
        }

    # traced run: one untraced crawl, then in a fresh event-logged session
    # the same crawl and a stop-and-resume crawl, with spans around every
    # layer call. The resumed crawl must reproduce the uninterrupted one.
    untraced = one_op(c.Spans())
    crawl.release(spark, untraced)
    spark.stop()
    spark, _ = ctx.session(event_log=True)
    ctx.spans = c.Spans()
    ctx.hook_groups(spark)
    c.warm_python_workers(spark)
    world = crawl.World(spark, cfg, ctx.seed)
    world.engine(spark, cfg["max_waves"])
    mem_spans = ctx.spans = c.Spans()
    mem = one_op(mem_spans)
    crawl.release(spark, mem)
    ckpt_spans = ctx.spans = c.Spans()
    ckpt = one_op(ckpt_spans, cfg["max_waves"] // 2)
    layers = crawl.replay(spark, world, ckpt)
    c.log("layer replay")
    crawl.release(spark, ckpt)
    spark.stop()
    stages, jobs = eventlog.parse(eventlog.latest_log(os.path.join(ctx.work, "eventlog")))
    layers.update(crawl.engine_metrics(mem, mem_spans, stages, jobs))
    layers.update(crawl.checkpoint_metrics(ckpt, ckpt_spans))
    layers.update({
        "session.start_s": session_s,
        "synth.world_s": c.median(world_s),
        "engine.init_s": c.median(init_s),
        "trace.untraced_wall_s": untraced.wall_s,
        "trace.traced_wall_s": mem.wall_s,
        "trace.overhead_s": mem.wall_s - untraced.wall_s,
    })
    return layers


def run_pipeline(ctx: Ctx, trace: bool) -> dict:
    from perfbench import common as c
    from perfbench import eventlog, pipeline

    names = pipeline.query_order(ctx.seed, ctx.toy)
    expected = load_expected().get("pipeline_sf0.01")
    spark, session_s = ctx.session()
    loads = []
    for _ in range(1 if trace else SETUP_REPS):
        spark.catalog.clearCache()
        t0 = time.monotonic()
        pipeline.load_tables(spark)
        loads.append(time.monotonic() - t0)
    observed = pipeline.check_pass(spark, names)
    c.log("checked pass")
    ctx.record(pipeline.check(observed, expected))

    passes = []
    if not trace:
        t_end = time.monotonic() + ctx.args.seconds
        while len(passes) < MIN_OPS or time.monotonic() < t_end:
            c.settle(spark)
            passes.append(pipeline.timed_pass(spark, names))
        spark.stop()
        # each query's median over the passes, so one slow pass of one
        # query moves no metric
        per_query = [c.median([p[n][0] + p[n][1] for p in passes]) for n in names]
        return {
            "setup_s": session_s + c.median(loads),
            "wall_s": sum(per_query),
            "items_per_s": len(names) / sum(per_query),
            "step_geomean_s": c.geomean(per_query),
        }

    untraced = pipeline.timed_pass(spark, names)
    spark.stop()
    spark, _ = ctx.session(event_log=True)
    c.warm_python_workers(spark)
    traced = pipeline.timed_pass(spark, names)
    spark.stop()
    stages, _ = eventlog.parse(eventlog.latest_log(os.path.join(ctx.work, "eventlog")))
    layers = pipeline.layer_metrics(traced, stages)
    t_u = sum(b + e for b, e in untraced.values())
    t_t = sum(b + e for b, e in traced.values())
    layers.update({
        "session.start_s": session_s,
        "trace.untraced_wall_s": t_u,
        "trace.traced_wall_s": t_t,
        "trace.overhead_s": t_t - t_u,
    })
    return layers


# ------------------------------------------------------------------------ #
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true")
    args = ap.parse_args()

    missing = [p for p in ("crawlspark/engine.py", "__spark_entry__.py",
                           "bench/result_hash.py", "perfbench/expected.json")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a crawlspark checkout (missing {missing})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    sys.path.insert(0, ROOT)
    from perfbench import common, metrics

    common.prepare_env(ROOT, work)
    ctx = Ctx(args, work)
    noise = common.HostNoise()
    try:
        drive = run_pipeline if args.workload.startswith("pipeline") else run_crawl
        values = drive(ctx, bool(args.trace))
        rss = common.peak_rss_mb()
    finally:
        common.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    host = {**noise.report(), "peak_rss_mb": rss}
    for e in ctx.errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    if args.trace:
        values.update({f"host.{k}": v for k, v in host.items()})
        names = metrics.PER_LAYER
    else:
        names = metrics.END_TO_END
    out = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                    for n, u in names.items()},
    }
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed}))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
