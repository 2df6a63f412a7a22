"""The crawl workload and the traced crawls that feed its per-layer metrics.

`crawl_floor` crawls in memory mode with small, budget-bound waves, so the
fixed per-wave driver cost and the end-of-run results materialization
dominate. Its traced run adds a durable crawl of the same world and seed
that checkpoints every wave, stops halfway, and is finished
by a fresh engine with `run(resume=True)`: that crawl gives the checkpoint
layer, and its committed `pending` snapshot feeds the layer replay.

The page world is `synth.spark_pages_df` (through `synth.spark_world_tables`);
the benchmark seed only picks which pages start the crawl and their
priorities. Everything is driven through the engine's public surface
(`CrawlEngine`, `CrawlConfig`, `TableIO`, `CrawlRun`).
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext

import numpy as np

from perfbench import common, eventlog

# n_hosts/total_pages/host budgets shape the world; wave_budget/max_waves the
# crawl; n_seeds ≥ wave_budget keeps every wave budget-bound, so the work per
# wave barely depends on which pages the seed picks
FLOOR = dict(
    n_hosts=96, total_pages=20_000, n_seeds=2_000, host_budget=3000,
    hot_host_budget=1500, wave_budget=1_500, max_waves=2, payload_px=16,
)
# smoke-test size: the same plan shapes on a few hundred rows
TOY = dict(FLOOR, total_pages=2_000, n_seeds=100, wave_budget=80, max_waves=2)


def workload_config(toy: bool = False) -> dict:
    return dict(TOY if toy else FLOOR)


# ------------------------------------------------------------------------ #
# inputs
# ------------------------------------------------------------------------ #
def seed_rows(cfg: dict, seed: int) -> list[dict]:
    """The crawl's seed list for one benchmark seed: `n_seeds` distinct
    pages drawn uniformly from the world, each with a priority in 0..2."""
    from crawlspark import constants as C
    from crawlspark import synth

    # same Zipf host sizes spark_pages_df lays the world out with
    w = np.array([(h + 1) ** -1.2 for h in range(cfg["n_hosts"])])
    sizes = np.maximum(1, (w / w.sum() * cfg["total_pages"]).astype(int))
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    rng = random.Random(seed)
    ids = rng.sample(range(int(sizes.sum())), cfg["n_seeds"])
    rows = []
    for k, pid in enumerate(ids):
        h = int(np.searchsorted(starts, pid, side="right")) - 1
        rows.append({
            "job_id": f"seed{k:06d}",
            "url": synth._page_url(h, int(pid - starts[h])),
            "method": "GET", "body": None, "headers": {}, "url_params": {},
            "priority": rng.randrange(3),
            "max_retries": 2, "retry_policy": C.RETRY_JOB,
            "max_retry_delay_us": C.DEFAULT_MAX_RETRY_DELAY_US,
            "accept_lo": 200, "accept_hi": 299, "seed_order": k,
        })
    return rows


class World:
    """Pages/robots/budgets tables plus the seed frame, built lazily."""

    def __init__(self, spark, cfg: dict, seed: int):
        from crawlspark import schema as S
        from crawlspark import synth

        self.cfg = cfg
        pages, _, robots, budgets, _ = synth.spark_world_tables(
            spark, n_hosts=cfg["n_hosts"], total_pages=cfg["total_pages"],
            n_images=1, branching=4, n_seeds=0, host_budget=cfg["host_budget"],
            hot_host_budget=cfg["hot_host_budget"], image_sizes=(8,),
            unique_images=True,
        )
        self.pages, self.robots, self.budgets = pages, robots, budgets
        self.seeds = spark.createDataFrame(
            synth._typed_rows(seed_rows(cfg, seed), S.SEEDS_SCHEMA),
            schema=S.SEEDS_SCHEMA,
        )

    def engine(self, spark, max_waves: int, workdir: str | None = None, spans=None):
        """A fresh engine with its fixtures materialized. Every engine over
        this world builds identical fixture plans, so after the first one
        they are cache hits."""
        from crawlspark.checkpoint import TableIO
        from crawlspark.engine import CrawlConfig, CrawlEngine

        c = self.cfg
        io = None
        if workdir is not None:
            io = TableIO(spark, workdir)
            if spans is not None:
                spans.wrap(io, "write_wave", "checkpoint.write")
                spans.wrap(io, "commit_manifest", "checkpoint.commit")
        conf = CrawlConfig(
            wave_budget=c["wave_budget"], max_waves=max_waves,
            default_host_budget=c["host_budget"], validate_images=True,
            payload_mode="synthetic", payload_px=c["payload_px"], workdir=workdir,
        )
        eng = CrawlEngine(spark, self.pages, self.robots, self.budgets, None, conf,
                          table_io=io)
        spark.sparkContext.setJobGroup("setup", "fixtures")
        eng.pages.count()
        eng.robots.count()
        eng.budgets.count()
        self.seeds.persist().count()
        return eng


# ------------------------------------------------------------------------ #
# one operation: a whole crawl, timed until its results are materialized
# ------------------------------------------------------------------------ #
class CrawlOp:
    def __init__(self, run_, results, wall_s: float, engine, workdir: str | None):
        self.run = run_
        self.results = results
        self.wall_s = wall_s
        self.engine = engine  # the engine that finished the crawl
        self.workdir = workdir
        self.bytes_written = 0  # checkpoint bytes on disk after the crawl
        self.window = (0.0, 0.0)  # epoch seconds the crawl ran in
        self.stop_after: int | None = None  # wave the first leg stopped after

    @property
    def counters(self) -> list[list[int]]:
        return [[m["scheduled"], m["new_urls"], m["deduped"]] for m in self.run.metrics]

    @property
    def urls(self) -> int:
        return sum(sum(c) for c in self.counters)


def _teardown(spark, eng, run_, spans):
    """Materialize every result row, image validation columns included
    (the noop sink keeps Catalyst from pruning them)."""
    spark.sparkContext.setJobGroup("teardown", "end-of-run output materialization")
    # memory mode compiles the end-of-run union here, so it runs under the
    # engine's execution mode when the engine has one (as bench/run_crawl.py)
    mode = getattr(eng, "exec_mode", None)
    with spans.span("engine.teardown"), (mode() if mode else nullcontext()):
        results = run_.results.persist()
        common.drain(results)
        results.count()
    return results


def crawl_once(spark, world: World, work_dir: str, spans: common.Spans,
               stop_after: int | None = None, max_waves: int | None = None) -> CrawlOp:
    """One crawl of `world`, timed from `run(seeds)` until every result
    row is materialized. With `stop_after`, the crawl checkpoints to a
    fresh workdir, stops after that many waves, and a fresh engine finishes
    it with `run(resume=True)`; the wall is the sum of both legs.
    `max_waves` overrides the workload's wave count (warm-up only)."""
    t_epoch = time.time()
    op = _crawl(spark, world, work_dir, spans, stop_after, max_waves)
    op.window = (t_epoch, time.time())
    return op


def _crawl(spark, world, work_dir, spans, stop_after, max_waves=None) -> CrawlOp:
    cfg = world.cfg
    sc = spark.sparkContext
    if stop_after is None:
        eng = world.engine(spark, max_waves or cfg["max_waves"])
        sc.setJobGroup("admit", "run")
        t0 = time.monotonic()
        with spans.span("engine.run"):
            run_ = eng.run(world.seeds)
        results = _teardown(spark, eng, run_, spans)
        wall = time.monotonic() - t0
        return CrawlOp(run_, results, wall, eng, None)

    workdir = os.path.join(work_dir, f"ckpt-{time.monotonic_ns()}")
    eng1 = world.engine(spark, stop_after, workdir, spans)
    sc.setJobGroup("admit", "run")
    t0 = time.monotonic()
    with spans.span("engine.run"):
        eng1.run(world.seeds)
    leg1 = time.monotonic() - t0
    eng2 = world.engine(spark, cfg["max_waves"], workdir, spans)
    sc.setJobGroup("admit", "resume")
    t1 = time.monotonic()
    with spans.span("engine.resume"):
        run_ = eng2.run(world.seeds, resume=True)
    results = _teardown(spark, eng2, run_, spans)
    wall = leg1 + time.monotonic() - t1
    op = CrawlOp(run_, results, wall, eng2, workdir)
    op.stop_after = stop_after
    op.bytes_written = sum(os.path.getsize(os.path.join(d, f))
                           for d, _, files in os.walk(workdir) for f in files)
    return op


def release(spark, op: CrawlOp) -> None:
    op.results.unpersist()
    if op.workdir:
        shutil.rmtree(op.workdir, ignore_errors=True)


# ------------------------------------------------------------------------ #
# correctness (outside every timed region)
# ------------------------------------------------------------------------ #
def _digest(df, cols) -> str:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{r['n']}:{r['h']}"


def observe(spark, op: CrawlOp) -> dict:
    """What the checks compare: per-wave counters, order and seen digests,
    result count, and how many validated results failed validation."""
    from pyspark.sql import functions as F

    spark.sparkContext.setJobGroup("check", "correctness")
    invalid = F.col("image_id").isNotNull() & ~F.coalesce(F.col("pixels_ok"), F.lit(False))
    res = op.results.agg(
        F.count("*").alias("n"), F.count(F.when(invalid, 1)).alias("bad"),
    ).collect()[0]
    return {
        "waves": op.counters,
        "order": _digest(op.run.order, ["wave", "rank", "job_id", "url_canon"]),
        "seen": _digest(op.run.seen, ["url_hash", "cache_key"]),
        "results": res["n"],
        "bad_pixels": res["bad"],
    }


def check(obs: dict, expected: dict | None) -> list[str]:
    """Failures of one crawl: any invalid pixels, no results, or a counter
    or digest that differs from the value recorded for this seed (recorded
    from an uninterrupted crawl, so a resumed crawl must match it too)."""
    errs = []
    if obs["bad_pixels"]:
        errs.append(f"{obs['bad_pixels']} validated results without pixels_ok")
    if obs["results"] <= 0:
        errs.append("no results")
    if expected is not None:
        for k in ("waves", "order", "seen", "results"):
            if obs[k] != expected[k]:
                errs.append(f"{k}: got {obs[k]}, recorded {expected[k]}")
    return errs


# ------------------------------------------------------------------------ #
# per-layer metrics of traced crawls
# ------------------------------------------------------------------------ #
def _is_wave(group: str) -> bool:
    return group.startswith("wave-")


def engine_metrics(op: CrawlOp, spans: common.Spans, stages: dict, jobs: list) -> dict:
    """Wave loop, teardown and image layers of one memory-mode crawl."""
    walls = [m["wall_sec"] for m in op.run.metrics]
    n_waves = max(1, len(walls))
    waves = eventlog.select(stages, _is_wave, op.window)
    crawl_stages = eventlog.select(
        stages, lambda g: _is_wave(g) or g in ("admit", "teardown"), op.window)
    td = eventlog.select(stages, lambda g: g == "teardown", op.window)
    lo, hi = op.window
    n_jobs = sum(1 for g, t in jobs if _is_wave(g) and lo <= t <= hi)

    # driver-serial share: wave time during which none of its stages ran
    serial = 0.0
    for m in op.run.metrics:
        start = spans.first_start(f"group:wave-{m['wave']}")
        if start is not None:
            ivs = [(s["start"], s["end"]) for s in waves if s["group"] == f"wave-{m['wave']}"]
            serial += m["wall_sec"] - eventlog.covered_seconds(ivs, start, start + m["wall_sec"])

    mb = 1024 * 1024
    return {
        "engine.wave_p50_s": common.median(walls),
        "engine.wave_max_s": max(walls, default=0.0),
        "engine.wave_sum_s": sum(walls),
        "engine.admit_s": max(0.0, spans.total("engine.run") - sum(walls)),
        "engine.wave_serial_s": serial,
        "engine.jobs_per_wave": n_jobs / n_waves,
        "engine.stages_per_wave": len(waves) / n_waves,
        "engine.tasks_per_wave": sum(s["tasks"] for s in waves) / n_waves,
        "engine.exec_cpu_s": sum(s["cpu_s"] for s in waves),
        "engine.shuffle_write_mb": sum(s["shuffle_write_b"] for s in waves) / mb,
        "engine.shuffle_read_mb": sum(s["shuffle_read_b"] for s in waves) / mb,
        "engine.teardown_s": spans.total("engine.teardown"),
        "engine.teardown_tasks": sum(s["tasks"] for s in td),
        "engine.teardown_max_task_s": max((s["max_task_s"] for s in td), default=0.0),
        "image.validate_rows": eventlog.py_metric(crawl_stages, eventlog.PY_ROWS),
        "image.udf_exec_s": eventlog.py_metric(crawl_stages, eventlog.PY_TIME),
        "image.udf_bytes_sent_mb": eventlog.py_metric(crawl_stages, eventlog.PY_SENT) / mb,
    }


def checkpoint_metrics(op: CrawlOp, spans: common.Spans) -> dict:
    """Checkpoint layer of one durable stop-and-resume crawl."""
    resume_s = 0.0
    res = [s for n, s, _ in spans.spans if n == "engine.resume"]
    if res:
        # from run(resume=True) until its first wave starts
        firsts = [t for w in range(1, op.run.waves + 1)
                  if (t := spans.first_start(f"group:wave-{w}", res[0])) is not None]
        resume_s = min(firsts) - res[0] if firsts else 0.0
    return {
        "checkpoint.write_s": spans.total("checkpoint.write"),
        "checkpoint.bytes_written": float(op.bytes_written),
        "checkpoint.commits": float(spans.count("checkpoint.commit")),
        "checkpoint.resume_s": resume_s,
    }


# ------------------------------------------------------------------------ #
# layer replay: each public layer function on a persisted input
# ------------------------------------------------------------------------ #
# replayed layer → its timing metric
REPLAY_TIME = {"politeness": "politeness.exec_s", "frontier": "frontier.select_s",
               "fetch": "fetch.exec_s", "urlnorm": "urlnorm.exec_s",
               "seen": "seen.probe_s", "image": "image.validate_s"}


def replay(spark, world: World, op: CrawlOp) -> dict:
    """Re-run one wave layer by layer from the committed `pending` snapshot
    the resumed engine started from. Each layer's input is persisted and
    counted before its clock starts; its output is drained into the noop
    sink, then persisted (untimed) as the next layer's input."""
    from pyspark.sql import functions as F

    from crawlspark import fetch as FT
    from crawlspark import frontier, politeness, urlnorm
    from crawlspark import seen as SEEN
    from crawlspark.checkpoint import TableIO
    from crawlspark.image import fetch_validate_udf

    ecfg = op.engine.cfg
    k = op.stop_after
    wave_ts = (k + 1) * ecfg.wave_period_us
    io = TableIO(spark, op.workdir)
    sc = spark.sparkContext
    out: dict[str, float] = {}
    held = []

    def persisted(df):
        df = df.persist()
        held.append(df)
        return df, df.count()

    def layer(name, fn, inp, n_in):
        sc.setJobGroup(f"replay-{name}", name)
        df = fn(inp)
        t0 = time.monotonic()
        common.drain(df)
        out[REPLAY_TIME[name]] = time.monotonic() - t0
        res, n_out = persisted(df)
        out[f"{name}.rows_in"], out[f"{name}.rows_out"] = float(n_in), float(n_out)
        return res, n_out

    sc.setJobGroup("replay-inputs", "replay inputs")
    pending, n = persisted(
        io.read_wave("pending", k).filter(F.col("not_before_us") <= wave_ts))
    seen_tbl, _ = persisted(io.read_waves("seen", list(range(k + 1))))

    polite, n = layer("politeness", lambda d: politeness.per_host_topk(
        d, world.budgets, ecfg.default_host_budget, ecfg.salt_buckets), pending, n)
    sel, n = layer("frontier", lambda d: frontier.select_wave(d, ecfg.wave_budget), polite, n)
    fetched, _ = layer("fetch", lambda d: FT.apply_outcomes(
        FT.fetch_simulate(d, op.engine.pages), wave_ts), sel, n)

    done = fetched.filter(F.col("outcome") == "done")
    links, n = persisted(done.select(
        F.col("job_id").alias("parent_id"),
        F.posexplode("out_links").alias("link_pos", "url"),
    ).withColumns({
        "url_params": F.lit(None).cast("map<string,string>"),
        "method": F.lit("GET"),
        "body": F.lit(None).cast("binary"),
    }))
    cand, n = layer("urlnorm", lambda d: urlnorm.with_url_columns(d, ecfg.host_buckets),
                    links, n)
    probed, _ = layer("seen", lambda d: SEEN.mark_seen(d, seen_tbl), cand, n)
    n_seen = probed.filter(F.col("_seen")).count()
    out["seen.dedup_ratio"] = n_seen / max(1, n)
    out["seen.bloom_engaged"] = 1.0 if getattr(op.engine, "_bloom_synced", False) else 0.0

    images, n = persisted(done.filter(F.col("body_image_id").isNotNull()))
    layer("image", lambda d: d.select(fetch_validate_udf(
        F.col("body_image_id"), F.lit(ecfg.payload_px)).alias("v")), images, n)
    for df in held:
        df.unpersist()
    return out
