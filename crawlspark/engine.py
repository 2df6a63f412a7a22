"""The BSP wave loop — the engine's driver program (SURVEY.md §3.4).

One wave (superstep) replaces the reference's per-job pipeline
(DoJob, scrapemate.go:311-396). Stages are DataFrame transformations;
boundaries are shuffles; the only driver-side state is small counters.

    1. ELIGIBLE  pending ∧ not_before ≤ wave_ts            (scan + filter)
    2. POLITE    per-host top-k (salted two-phase window)   (politeness.py)
    3. WAVE      global top-budget by (priority, seq)       (frontier.py)
    4. FETCH     equi-join vs resolved pages + attempt calc (fetch.py)
    5. OUTCOME   retry/backoff/policy dispatch              (fetch.py)
    6. RESULTS   image join + validation UDF → results      (image.py)
    7. CHILDREN  posexplode links → canon → dedup → admit   (urlnorm/seen.py)
    8. COMMIT    atomically advance the manifest            (checkpoint.py)

CrawlEngine._run drives these as phases: `_admit` (or `_resume`) once,
then `_wave` (1-7) and `_commit` (8) per wave, and `_outputs` at the end.

Termination: pending empty (the batch analog of the reference's inactivity
exit, scrapemate.go:247-276), a StopScraping failure (cancelFn analog), or
the max-wave guard.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from functools import reduce
from typing import ClassVar

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark import constants as C
from crawlspark import frontier, jobtypes, politeness, urlnorm
from crawlspark import fetch as FT
from crawlspark import seen as SEEN
from crawlspark.checkpoint import TableIO
from crawlspark.image import validate_image_udf
from crawlspark.session import conf_scope, cut_lazy

PENDING_COLS = [
    "job_id", "parent_id", "url_canon", "url_hash", "cache_key", "host",
    "host_bucket", "method", "body", "headers",  # POST round-trip (job.go:63-104)
    "priority", "seq", "max_retries", "retry_policy",
    "max_retry_delay_us", "timeout_us",  # F-17 per-job timeout (job.go:259-262)
    "retry_count", "not_before_us", "wave",
    "accept_lo", "accept_hi",  # per-job DoCheckResponse range (F-13)
    "use_in_results",  # O-1 result-emit gate (job.go:112-114)
    "is_init",  # F-5 init-job BFS phase marker (scrapemate.go:489-523)
    "job_type",  # P-2 per-type Process dispatch (job.go:46-47)
]

RESPONSES_SCHEMA = (
    "cache_key string, status int, body_image_id string, "
    "out_links array<string>, latency_us long"
)

TERMINAL_SCHEMA = (
    "job_id string, url_canon string, attempts int, final_state string, wave int"
)
ORDER_SCHEMA = "wave int, rank long, job_id string, url_canon string, is_init boolean"
SEEN_TBL_SCHEMA = "url_hash long, cache_key string, first_seen_wave int"
RESULTS_SCHEMA = (
    "job_id string, parent_id string, url_canon string, wave int, rank int, "
    "status int, attempts int, from_cache boolean, image_id string, "
    "latency_us long, caption string, phash long, psnr_db double, pixels_ok boolean"
)

_OUTPUT_TABLES = ("order", "results", "terminal", "responses")
_INTERPRETED = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}
# Execution-mode crossover (_exec_mode): runs whose wave_budget is strictly
# below this plan in interpreted mode. Every wave's plans embed wave-varying
# literals (wave_ts, seq watermarks, the wave number), and Spark inlines
# primitive literals into the generated Java source, so whole-stage codegen
# janino-recompiles the wave pipeline every wave: compile cost scales with
# plans, execution cost with rows. Measured on `crawl_floor` (local[4],
# 4-core host, 4 crawls per process after warm-up): with Spark's default
# 100-entry codegen cache, codegen recompiles 74-77 classes every wave and
# a crawl takes 8.5 s against 6.3 s interpreted; even with a 1,000-entry
# cache, where repeated plans compile nothing, codegen crawls take
# 6.7-7.5 s against 5.9-6.6 s (ABBA-ordered pairs). Above the crossover
# (e.g. the 1M-row xsat waves), per-row interpreted overhead (~µs/row ×
# ~30 exprs) outgrows the ~1 s/wave compile and codegen stays on.
INTERPRETED_BELOW_WAVE_BUDGET = 200_000
# The seen set's bloom tier: BLOOM_PARTITIONS bitsets of CrawlConfig.bloom_bits
# each, keyed by pmod(url_hash, BLOOM_PARTITIONS).
BLOOM_PARTITIONS = 16
# The bloom prefilter pays an Arrow round-trip per candidate to cut the exact
# anti-join's shuffle; that trade only wins once the seen set is large. Below
# this row count the engine joins directly, and below half of it the tier is
# not built at all (membership answers don't change either way).
BLOOM_PREFILTER_MIN_SEEN = 2_000_000
# Operating envelope of the broadcast probe: prefilter_candidates ships ALL
# partitions' bitsets to every executor, so the tier is only probe-able while
# BLOOM_PARTITIONS × bloom_bits/8 stays executor-broadcastable. Above this
# cap the engine switches the prefilter off (the exact anti-join is always
# the authority — results are unchanged, only the shuffle-cutting
# optimization goes). At 10^10 keys × 10 bits/key (~12 GB) the right fix is
# partition-routing the probe by pmod(url_hash, P); the cap makes the current
# broadcast probe fail SOFT instead of OOMing an executor.
BLOOM_BROADCAST_MAX_MB = 256


@dataclass
class CrawlConfig:
    wave_budget: int = C.DEFAULT_WAVE_BUDGET
    default_host_budget: int = C.DEFAULT_HOST_BUDGET
    wave_period_us: int = 500_000
    max_waves: int = C.DEFAULT_MAX_WAVES
    # fixed layout constants, not constructor fields: the frontier's host
    # buckets and the politeness window's salt buckets
    host_buckets: ClassVar[int] = C.DEFAULT_HOST_BUCKETS
    salt_buckets: ClassVar[int] = 16
    validate_images: bool = True
    # bits per bloom partition: size to ~10 bits/key/partition at the
    # target corpus (the default saturates past ~3M keys)
    bloom_bits: int = 1 << 20
    # P-2 job-type registry (name → jobtypes.JobTypeSpec); None → the single
    # default type, which reproduces untyped crawls bit-for-bit
    job_types: dict | None = None
    # P-3: extract child links from the response body (regexp over body_html)
    # instead of reading the pre-extracted out_links column
    extract_links_from_body: bool = False
    # F-24 fetcher flavor: "http" (plain) or "js" (browser rendering — also
    # observes pages.js_links, the content injected client-side;
    # jshttp.go:191-235)
    fetcher: str = "http"
    # F-23 stealth header profile name (crawlspark.stealth) — merged UNDER
    # each job's own headers before the fetch; None → plain fetch
    fetch_profile: str | None = None
    # F-29 request/response hooks side-output column on results
    enable_hooks: bool = False
    # F-11 transparent gzip body decode: pages.body_gz → results.body_text
    decode_gzip_body: bool = False
    # O-5: attach payload bytes to results as `screenshot` (table mode only)
    screenshots: bool = False
    # payload validation plan: "table" joins the images dimension and
    # validates its bytes (correctness fixtures); "synthetic" fuses payload
    # synthesis + validation per unique URL inside one UDF — the 10^10-scale
    # shape where every page has its own image and bytes never cross a
    # stage boundary
    payload_mode: str = "table"
    payload_px: int = 128  # synthetic-mode image edge length
    workdir: str | None = None  # set → durable checkpoints + resume


@dataclass
class CrawlRun:
    order: DataFrame
    results: DataFrame
    terminal: DataFrame
    seen: DataFrame
    responses: DataFrame | None = None  # successful fetches (the cache table)
    metrics: list[dict] = field(default_factory=list)
    waves: int = 0
    stopped: bool = False
    resumed_from_wave: int = 0


@dataclass
class _Loop:
    """The BSP driver's state, carried from wave to wave."""

    pending: DataFrame
    seen: DataFrame
    wave: int
    seq_base: int
    n_pending: int
    n_init_pending: int
    stopped: bool = False
    resumed_from: int = 0
    metrics: list[dict] = field(default_factory=list)
    # per-wave output frames by table, unioned at the end of the run
    parts: dict[str, list[DataFrame]] = field(
        default_factory=lambda: {t: [] for t in _OUTPUT_TABLES}
    )


@dataclass
class _Wave:
    """One wave's frames between its fused action and its commit."""

    future: DataFrame  # pending rows not yet eligible
    leftover: DataFrame  # eligible rows the selection left out
    retried: DataFrame
    admitted: DataFrame
    seen_delta: DataFrame
    order: DataFrame
    results: DataFrame  # result rows, not yet image-validated
    terminal: DataFrame
    metrics: dict
    stamps: tuple[float, float, float]  # wave start, expand start, commit start


class CrawlEngine:
    def __init__(
        self,
        spark,
        pages: DataFrame,
        robots: DataFrame,
        budgets: DataFrame,
        images: DataFrame | None = None,
        config: CrawlConfig | None = None,
        response_cache: DataFrame | None = None,
        table_io: TableIO | None = None,
    ):
        self.spark = spark
        self._n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # C-2: cache-first fetch — hits skip the fetch join but still flow
        # through parse/process/expansion (scrapemate.go:345-375).
        # Stored pre-partitioned AND pre-sorted on its join key: the cached
        # plan's layout survives persist (InMemoryTableScan reports it), so
        # the per-wave cache join does ZERO work on this side — no exchange,
        # no sort — forever after the one-time build. The wave side still
        # shuffles, but it is ≤ wave_budget rows vs the whole corpus. Same
        # treatment for the pages table below: this is the in-memory twin of
        # bucketing the Iceberg table by its join key at cluster scale.
        self.response_cache = (
            response_cache.repartition(self._n_shuffle, "cache_key")
            .sortWithinPartitions("cache_key")
            .persist()
            if response_cache is not None
            else None
        )
        self.cfg = config or CrawlConfig()
        self.specs = self.cfg.job_types or jobtypes.default_specs()
        # one-time batch cost, amortized over every wave
        self.pages = (
            FT.resolve_redirects(pages)
            .repartition(self._n_shuffle, "url_hash")
            .sortWithinPartitions("url_hash")
            .persist()
        )
        self.robots = robots.persist()
        self.budgets = budgets.persist()
        self.images = images
        # the catalog seam: any object with the TableIO surface drops in
        # (a real Iceberg catalog on a cluster; a fake in the contract test)
        self.io = table_io if table_io is not None else (
            TableIO(spark, self.cfg.workdir) if self.cfg.workdir else None
        )
        self._seen_chain = 0
        self._seen_rows = 0  # driver-side running count (no extra actions)
        self._bloom_synced = False
        self.bloom = SEEN.PartitionedBloom(BLOOM_PARTITIONS, self.cfg.bloom_bits)

    def _bloom_broadcastable(self) -> bool:
        """True while the tier's total packed size fits the broadcast-probe
        envelope (BLOOM_BROADCAST_MAX_MB). The exact anti-join never depends
        on this — past the cap the prefilter just switches off."""
        tier_bytes = self.bloom.n_partitions * (self.bloom.m_bits // 8)
        return tier_bytes <= BLOOM_BROADCAST_MAX_MB * 1024 * 1024

    def _bloom_maintain(self, seen_full) -> None:
        """Build the bloom tier only once the seen set is big enough for the
        prefilter to pay for itself: construction is deferred, then a
        one-time full build catches up. After that sync, per-wave deltas
        ride the fused action's `bloom` branch (zero extra driver jobs)."""
        if self._seen_rows < BLOOM_PREFILTER_MIN_SEEN // 2:
            self._bloom_synced = False
            return
        if not self._bloom_synced:
            self.bloom.add_from_df(seen_full)
            self._bloom_synced = True

    def _exec_mode(self):
        """Context manager applying the engine's execution-mode choice
        (INTERPRETED_BELOW_WAVE_BUDGET): small-wave runs plan in
        interpreted mode so the per-wave janino recompile of literal-bearing
        plans disappears; big-wave runs keep codegen."""
        if self.cfg.wave_budget >= INTERPRETED_BELOW_WAVE_BUDGET:
            return nullcontext()
        return conf_scope(self.spark, _INTERPRETED)

    def _retry_action(self, fn, attempts: int = 3, delay_s: float = 1.0):
        """F-4 provider-error restart analog (scrapemate.go:532-543: log,
        sleep 1s, re-call Jobs()): driver-side actions retry transient scan/
        collect failures; Spark's own task retries cover executor failures."""
        for a in range(attempts):
            try:
                return fn()
            except Exception:
                if a == attempts - 1:
                    raise
                time.sleep(delay_s)

    # ------------------------------------------------------------------ #
    def _admit_seeds(self, seeds: DataFrame):
        """Wave-0 seed injection (scrapemateapp.go:73-81 analog): canonize,
        dedup within the seed list (first push wins), robots-gate, assign seq."""
        cols = ["job_id", "url", "url_params", "method", "body", "priority",
                "max_retries", "retry_policy", "max_retry_delay_us", "seed_order"]
        defaults = (
            ("accept_lo", F.lit(200), "int"),
            ("accept_hi", F.lit(299), "int"),
            ("timeout_us", F.lit(None), "long"),
            ("headers", F.lit(None), "map<string,string>"),
            # UseInResults defaults true (job.go:112-114); init defaults false
            ("use_in_results", F.lit(True), "boolean"),
            ("is_init", F.lit(False), "boolean"),
            ("job_type", F.lit(jobtypes.DEFAULT_JOB_TYPE), "string"),
        )
        for c, default, typ in defaults:
            seeds = (
                seeds.withColumn(c, F.coalesce(F.col(c), default).cast(typ))
                if c in seeds.columns
                else seeds.withColumn(c, default.cast(typ))
            )
        extra = [c for c, _, _ in defaults]
        s = urlnorm.with_url_columns(
            seeds.select(*cols, *extra),
            self.cfg.host_buckets,
        ).withColumn("priority", frontier.normalize_priority(F.col("priority")))

        w = Window.partitionBy("cache_key").orderBy("seed_order")
        s = s.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

        allowed, blocked = politeness.robots_gate(s, self.robots)
        # the seed rank is lazy (no driver action: the seed/seen counts the
        # driver needs ride ONE fused aggregate in _admit), and its shared
        # ranked frame is a lineage cut (session.cut_lazy), not a persist
        allowed = frontier.ranked_within(allowed, (), ("seed_order",), "_srank")
        pending = (
            allowed.withColumn("seq", (F.col("_srank") - 1).cast("long"))
            .withColumn("parent_id", F.lit(None).cast("string"))
            .withColumn("retry_count", F.lit(0).cast("int"))
            .withColumn("not_before_us", F.lit(0).cast("long"))
            .withColumn("wave", F.lit(0).cast("int"))
            .withColumn(
                "max_retry_delay_us",
                F.when(F.col("max_retry_delay_us") <= 0, F.lit(C.DEFAULT_MAX_RETRY_DELAY_US))
                .otherwise(F.col("max_retry_delay_us")),
            )
            .select(*PENDING_COLS)
        )
        seen_delta = s.select(
            "url_hash", "cache_key", F.lit(0).alias("first_seen_wave")
        )
        blocked_terminal = blocked.select(
            "job_id", "url_canon", F.lit(0).cast("int").alias("attempts"),
            F.lit(C.ST_DISCARDED).alias("final_state"), F.lit(0).cast("int").alias("wave"),
        )
        return pending, seen_delta, blocked_terminal

    # ------------------------------------------------------------------ #
    def _expand_plan(self, done: DataFrame, seen: DataFrame):
        """Stage 7: crawl expansion (finishJob→pushJobs, scrapemate.go:578-603).

        Children inherit the parent's priority/retry config; job identity is
        md5(parent|pos|canon)[:16]; dedup = in-batch first-occurrence window
        + bloom prefilter + exact seen probe (seen.py).

        ZERO driver actions here (round 4; the round-1 version spent 4, the
        round-2/3 version 1): every per-row decision is a flag (`_first`
        in-batch winner, `_seen` probe, `_blocked` robots), and the returned
        per-range-partition aggregate — candidate/fresh/admit counts AND the
        rank offsets for deterministic seq assignment — is UNIONED with the
        outcome aggregate into the wave's single fused action, so the two
        legs' stages overlap inside one job instead of paying two sequential
        job latencies. Driver round-trips are the serial floor that caps
        N→4N scaling efficiency; the whole loop is now one action per wave."""
        parents = done.filter(
            F.col("out_links").isNotNull() & (F.size("out_links") > 0)
        ).select(
            F.col("job_id").alias("parent_id"),
            F.col("rank").alias("parent_rank"),
            "priority", "max_retries", "retry_policy", "max_retry_delay_us",
            "timeout_us",  # children inherit the parent's fetch config
            "accept_lo", "accept_hi",  # children inherit the parent's check
            "is_init",  # init descendants stay in the init BFS (scrapemate.go:489-523)
            F.col("job_type").alias("_parent_type"),
            F.posexplode("out_links").alias("link_pos", "url"),
        )
        cand = urlnorm.with_url_columns(
            parents.withColumns(
                {
                    "url_params": F.lit(None).cast("map<string,string>"),
                    "method": F.lit("GET"),
                    "body": F.lit(None).cast("binary"),
                    "headers": F.lit(None).cast("map<string,string>"),
                }
            ),
            self.cfg.host_buckets,
        ).withColumn(
            "job_id",
            F.substring(
                F.md5(F.concat_ws("|", "parent_id", "link_pos", "url_canon")), 1, 16
            ),
        )

        # P-2 dispatch: the parent type's child rules decide which links
        # become jobs, their type, and config overrides (collect_job.go:28-69
        # shape). A link claimed by no rule never becomes a job — dropped
        # before dedup, exactly like user Process code that ignores it.
        path = F.coalesce(F.parse_url(F.col("url_canon"), F.lit("PATH")), F.lit("/"))
        ce = jobtypes.child_column_exprs(self.specs, F.col("_parent_type"), path)
        # one projection (withColumns): the overrides all read PARENT columns
        # and ce[...] (never each other), so batching them is the identical
        # projection with one analysis pass instead of five; the unclaimed-
        # link filter needs only job_type and commutes with the overrides.
        # children are fresh jobs: UseInResults defaults true (job.go:112-114)
        cand = cand.withColumns(
            {
                "job_type": ce["child_type"],
                "priority": frontier.normalize_priority(
                    F.coalesce(ce["child_priority"], F.col("priority"))
                ),
                "max_retries": F.coalesce(ce["child_max_retries"], F.col("max_retries")),
                "timeout_us": F.coalesce(ce["child_timeout_us"], F.col("timeout_us")),
                "use_in_results": F.coalesce(ce["child_use_in_results"], F.lit(True)),
            }
        ).filter(F.col("job_type").isNotNull())

        # in-batch dedup flag: first occurrence by (parent_rank, link_pos)
        # wins — the order parents push children in (scrapemate_test.go:445-534)
        w_first = Window.partitionBy("cache_key").orderBy("parent_rank", "link_pos")
        cand = cand.withColumn("_first", F.row_number().over(w_first) == 1)

        prefilter_bloom = (
            self.bloom
            if self._seen_rows >= BLOOM_PREFILTER_MIN_SEEN
            and self._bloom_broadcastable()
            else None
        )
        cand = SEEN.mark_seen(cand, seen, prefilter_bloom)
        cand = politeness.with_robots_flag(cand, self.robots)

        fresh = F.col("_first") & ~F.col("_seen")
        admit = fresh & ~F.col("_blocked")
        order = (F.col("parent_rank"), F.col("link_pos"))
        # Order-preserving bucket computed FROM THE DATA instead of
        # repartitionByRange: parent_rank is the wave-selection rank, dense in
        # [1, n_sched] with n_sched <= wave_budget, so equal slices of the
        # rank space are balanced whenever the wave is budget-bound (the
        # design point) and trivially small otherwise. Buckets are monotone
        # in (parent_rank, link_pos) — every key in bucket b sorts before
        # every key in b+1 — so per-bucket running counts + driver-side
        # cumulative offsets in bucket order give the identical global seq
        # assignment. vs the range version this removes, per wave: the
        # hidden range-bounds SAMPLING JOB over cand, and the SECOND full
        # exchange (Window required hashpartitioning(_pid) on top of
        # rangepartitioning) — the window and the stats aggregate now both
        # ride the one explicit hash exchange. Also strictly deterministic
        # under stage retry (range bounds re-sampled on retry could shift
        # partition ids; the bucket is a pure row function).
        nb = self._n_shuffle
        rank_cap = max(1, int(self.cfg.wave_budget))
        bucket = F.least(
            ((F.col("parent_rank") - F.lit(1)) * F.lit(nb) / F.lit(rank_cap)).cast("int"),
            F.lit(nb - 1),
        )
        parted = (
            cand.withColumn("_pid", bucket)
            .repartition(nb, "_pid")
            .withColumns(
                {
                    "_fresh": fresh,
                    "_admit": admit,
                    # running count of admitted rows = 1-based rank for admit
                    # rows ((parent_rank, link_pos) is unique → exact frame).
                    # `admit` is inlined (not F.col("_admit")) so all three
                    # land in ONE projection/analysis pass.
                    "_arn": F.sum(F.when(admit, 1).otherwise(0)).over(
                        Window.partitionBy("_pid")
                        .orderBy(*order)
                        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                    ),
                }
            )
        )
        # RDD leaf (not .persist): shared by the fused action's ex_agg branch
        # — which the union's attribute dedup would otherwise disconnect from
        # the cache, recomputing the whole expansion — and by _expand_finish's
        # admitted/seen-delta/blocked frames after the action (see
        # session.cut_lazy)
        parted = cut_lazy(parted)
        ex_agg = parted.groupBy("_pid").agg(
            F.count("*").alias("n_cand"),
            F.sum(F.when(F.col("_fresh"), 1).otherwise(0)).alias("n_fresh"),
            F.sum(F.when(F.col("_admit"), 1).otherwise(0)).alias("n_admit"),
            F.sum(F.when(F.col("_admit") & F.col("is_init"), 1).otherwise(0)).alias("n_admit_init"),
        )
        return parted, ex_agg

    def _expand_finish(self, parted: DataFrame, stats, wave: int, wave_ts: int, seq_base: int):
        """Consume the collected per-partition stats (the expansion leg of
        the wave's single fused action) and build the admitted / seen-delta /
        blocked frames over the already-cut `parted`."""
        n_candidates = sum(r["n_cand"] for r in stats)
        n_new = sum(r["n_fresh"] or 0 for r in stats)
        n_allowed_init = sum(r["n_admit_init"] or 0 for r in stats)
        offsets, acc = {}, 0
        for r in sorted(stats, key=lambda r: r["_pid"]):
            offsets[r["_pid"]] = acc
            acc += r["n_admit"] or 0
        n_allowed = acc
        offset_df = self.spark.createDataFrame(
            [(p, o) for p, o in offsets.items()] or [(0, 0)], "_pid int, _off long"
        )

        admitted = (
            parted.filter(F.col("_admit"))
            .join(F.broadcast(offset_df), "_pid")
            .withColumn("seq", (F.lit(seq_base) + F.col("_off") + F.col("_arn") - 1).cast("long"))
            .withColumn("retry_count", F.lit(0).cast("int"))
            .withColumn("not_before_us", F.lit(wave_ts).cast("long"))
            .withColumn("wave", F.lit(wave).cast("int"))
            .select(*PENDING_COLS)
        )
        seen_delta = parted.filter(F.col("_fresh")).select(
            "url_hash", "cache_key", F.lit(wave).alias("first_seen_wave")
        )
        blocked_terminal = parted.filter(F.col("_fresh") & F.col("_blocked")).select(
            "job_id", "url_canon", F.lit(0).cast("int").alias("attempts"),
            F.lit(C.ST_DISCARDED).alias("final_state"), F.lit(wave).cast("int").alias("wave"),
        )
        return (
            admitted, n_allowed, seen_delta, blocked_terminal,
            n_candidates, n_new, n_allowed_init,
        )

    # ------------------------------------------------------------------ #
    def _result_rows(self, done: DataFrame, wave: int) -> DataFrame:
        """One wave's result rows, before image validation."""
        # optional side-outputs when the config enables them: decoded body
        # text (F-11) and hook events (F-29)
        opt = [c for c in ("body_text", "hook_events") if c in done.columns]
        return done.select(
            "job_id", "parent_id", "url_canon",
            F.lit(wave).cast("int").alias("wave"),
            F.col("rank").cast("int").alias("rank"),
            "status", "attempts",
            "from_cache",
            F.col("body_image_id").alias("image_id"),
            "latency_us",
            *opt,
        )

    def _validate_results(self, base: DataFrame) -> DataFrame:
        """The image-validation projection over narrowed result rows:
        applied once above the end-of-run union (memory mode) or once per
        written wave (durable mode), so the pandas UDF's Python runner
        starts once per output partition, not once per partition of every
        wave's leaf. Without the images join beneath it (synthetic mode),
        the optimizer pushes the projection through the union into each
        wave's branch, still above that branch's coalesce."""
        if self.cfg.validate_images and self.cfg.payload_mode == "synthetic":
            from crawlspark.image import fetch_validate_udf

            v = fetch_validate_udf(F.col("image_id"), F.lit(self.cfg.payload_px))
            return (
                base.withColumn("_v", F.when(F.col("image_id").isNotNull(), v))
                .withColumn("caption", F.lit(None).cast("string"))
                .withColumn("phash", F.col("_v.phash"))
                .withColumn("psnr_db", F.col("_v.psnr_db"))
                .withColumn("pixels_ok", F.col("_v.pixels_ok"))
                .drop("_v")
            )
        if self.images is None or not self.cfg.validate_images:
            return (
                base.withColumn("caption", F.lit(None).cast("string"))
                .withColumn("phash", F.lit(None).cast("long"))
                .withColumn("psnr_db", F.lit(None).cast("double"))
                .withColumn("pixels_ok", F.lit(None).cast("boolean"))
            )
        # images is a dimension table → broadcast, so result rows never
        # shuffle with payload bytes attached (at 10^10 scale the bytes live
        # in object storage and the validate UDF fetches per batch instead;
        # the plan shape — no payload in shuffles — is the same, SURVEY §4.4)
        img = F.broadcast(self.images.select("image_id", "bytes", "fmt", "caption", "phash"))
        joined = base.join(img, "image_id", "left")
        v = validate_image_udf(F.col("image_id"), F.col("bytes"), F.col("fmt"))
        out = (
            joined.withColumn("_v", v)
            .withColumn(
                "psnr_db",
                F.when(F.col("image_id").isNull(), F.lit(None)).otherwise(F.col("_v.psnr_db")),
            )
            .withColumn(
                "pixels_ok",
                F.when(F.col("image_id").isNull(), F.lit(None)).otherwise(F.col("_v.pixels_ok")),
            )
        )
        if self.cfg.screenshots:
            # O-5: binary payload attached to the result row (job.go:142-167
            # DoScreenshot; screenshot sink main.go:169-186) — the payload
            # bytes stand in for the rendered-page screenshot
            out = out.withColumn("screenshot", F.col("bytes"))
        return out.drop("_v", "bytes", "fmt")

    # ------------------------------------------------------------------ #
    def _materialize(self, df: DataFrame, table: str, wave: int) -> DataFrame:
        """Cut lineage per wave, which would otherwise grow superlinearly
        with waves: durable parquet through TableIO when checkpointing (the
        resume state), else the lazy static cut (`session.cut_lazy`)."""
        if self.io:
            self.io.write_wave(df, table, wave)
            return self.io.read_wave(table, wave)
        return cut_lazy(df)

    # ------------------------------------------------------------------ #
    def run(self, seeds: DataFrame, resume: bool = False) -> CrawlRun:
        """Crawl from `seeds` (or, with `resume`, from the workdir's last
        committed wave) until the frontier empties, a stop outcome, or
        max_waves. The returned outputs are lazy; consume them as plain
        DataFrames.

        While it runs, run() sets session SQL conf — the execution mode for
        its whole duration (interpreted below INTERPRETED_BELOW_WAVE_BUDGET)
        and AQE off around each lineage cut — and restores the previous
        values on return, also when it raises. It is therefore not
        reentrant across threads that share the Spark session: another
        thread's queries see the engine's conf while a crawl runs, and two
        concurrent runs can restore each other's values."""
        with self._exec_mode():
            return self._run(seeds, resume)

    def _run(self, seeds: DataFrame, resume: bool = False) -> CrawlRun:
        manifest = self.io.read_manifest() if (resume and self.io) else None
        st = self._resume(manifest) if manifest else self._admit(seeds)
        while st.wave < self.cfg.max_waves and not st.stopped:
            st.wave += 1
            w = self._wave(st)
            if w is None:
                # nothing scheduled: fast-forward the virtual clock to the
                # first eligible backoff (identical wave numbering: the
                # oracle's intervening waves select nothing and emit nothing)
                src = st.pending.filter("is_init") if st.n_init_pending > 0 else st.pending
                nxt = src.agg(F.min("not_before_us").alias("m")).collect()[0]["m"]
                if nxt is None:
                    break  # frontier empty — fixpoint (inactivity-exit analog)
                st.wave = max(st.wave, -(-int(nxt) // self.cfg.wave_period_us) - 1)
                continue
            self._commit(st, w)
            if st.n_pending == 0:
                break
        return self._outputs(st)

    # ------------------------------------------------------------------ #
    def _admit(self, seeds: DataFrame) -> _Loop:
        """Fresh start: admit the seeds as wave 0's frontier, seen set and
        robots-blocked terminal rows, and commit wave 0."""
        pending, seen_delta, blocked_term = self._admit_seeds(seeds)
        # wave-0 snapshot gets the same stored layout as every later
        # wave's (host-bucketed, sorted) so wave 1's politeness windows
        # ride it exchange-free too
        pending = self._materialize(
            pending.repartition(self._n_shuffle, "host_bucket")
            .sortWithinPartitions("priority", "seq"),
            "pending", 0,
        )
        seen = self._materialize(seen_delta, "seen", 0)
        blocked_term = self._materialize(blocked_term, "terminal", 0)
        # ONE setup action (round 6 second pass; was three sequential
        # driver round-trips: the seed-rank collect inside _admit_seeds,
        # an is_init count, and seen.count()): the pending stats and the
        # seen count ride a single fused collect — the same union-by-
        # _kind shape as the per-wave fused action, so both lazy
        # checkpoint cuts materialize inside one job's stages too.
        fused0 = pending.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_init").cast("long")).alias("n_init"),
        ).select(F.lit("p").alias("_kind"), "n", "n_init").unionByName(
            seen.agg(F.count("*").alias("n")).select(
                F.lit("s").alias("_kind"), "n"
            ),
            allowMissingColumns=True,
        )
        srows = {r["_kind"]: r for r in self._retry_action(fused0.collect)}
        n_seed_allowed = int(srows["p"]["n"])
        st = _Loop(
            pending=pending, seen=seen, wave=0,
            seq_base=n_seed_allowed, n_pending=n_seed_allowed,
            # how many seeds open an init BFS phase (F-5, scrapemate.go:489-523)
            n_init_pending=int(srows["p"]["n_init"] or 0),
        )
        st.parts["terminal"].append(blocked_term)
        self._seen_rows = int(srows["s"]["n"])
        self._bloom_maintain(seen)
        if self.io:
            self.io.commit_manifest(
                {"wave": 0, "seq_base": st.seq_base, "stopped": False,
                 "metrics": [], "n_pending": st.n_pending,
                 "n_init_pending": st.n_init_pending}
            )
        return st

    def _resume(self, manifest: dict) -> _Loop:
        """Restart after the manifest's wave: its frontier snapshot, the
        committed seen waves, and every committed wave's outputs."""
        wave = manifest["wave"]
        pending = self.io.read_waves("pending", [wave], schema=None)
        seen = self.io.read_waves(
            "seen", list(range(0, wave + 1)), schema=SEEN_TBL_SCHEMA
        )
        parts = {t: [] for t in _OUTPUT_TABLES}
        for w0 in range(0, wave + 1):
            for tbl in _OUTPUT_TABLES:
                if self.io.wave_exists(tbl, w0):
                    parts[tbl].append(self.io.read_wave(tbl, w0))
        self._seen_rows = seen.count()
        self._bloom_maintain(seen)  # rebuild tier from committed seen set
        return _Loop(
            pending=pending, seen=seen, wave=wave, seq_base=manifest["seq_base"],
            n_pending=manifest["n_pending"],
            n_init_pending=manifest["n_init_pending"],
            stopped=manifest["stopped"], resumed_from=wave,
            metrics=list(manifest["metrics"]), parts=parts,
        )

    # ------------------------------------------------------------------ #
    def _wave(self, st: _Loop) -> _Wave | None:
        """One wave up to its commit: eligible → politeness → selection →
        fetch → outcomes → the wave's single fused action → expansion.
        Advances the driver-side counters; returns None when the wave
        scheduled nothing."""
        spark = self.spark
        cfg = self.cfg
        wave = st.wave
        wave_ts = wave * cfg.wave_period_us
        t_wave = time.monotonic()
        # tag the wave's jobs (UI debuggability; also lets a profiler count
        # scheduler round-trips per wave via statusTracker)
        spark.sparkContext.setJobGroup(f"wave-{wave}", f"crawl wave {wave}")

        # F-5 init phase: while any init job is pending, ONLY init jobs
        # are eligible — the BFS-to-exhaustion-before-workers semantics
        # of processInitJob (scrapemate.go:219-221, 489-523)
        elig_cond = F.col("not_before_us") <= wave_ts
        if st.n_init_pending > 0:
            elig_cond = elig_cond & F.col("is_init")
        eligible = st.pending.filter(elig_cond)
        future = st.pending.filter(~elig_cond)

        polite = politeness.per_host_topk(
            eligible, self.budgets, cfg.default_host_budget, cfg.salt_buckets
        )
        # Selection-rank bucket from driver-tracked seq watermarks
        # (frontier.with_inspark_rank_bucketed): seqs are assigned
        # densely in [0, seq_base) and completion drains mostly from the
        # front, so pending seqs concentrate in roughly the top
        # n_pending of the space. An equal-slice map of
        # [seq_base − n_pending, seq_base) is near-uniform there;
        # stragglers below the watermark (out-of-order completions,
        # retries) clamp into bucket 0 — a balance wobble, never an
        # ordering error (the bucket stays monotone in seq).
        nb_sel = self._n_shuffle
        seq_lo = max(0, st.seq_base - max(1, st.n_pending))
        seq_span = max(1, st.seq_base - seq_lo)
        seq_bucket = F.greatest(
            F.least(
                ((F.col("seq") - F.lit(seq_lo)) * F.lit(nb_sel) / F.lit(seq_span)).cast("int"),
                F.lit(nb_sel - 1),
            ),
            F.lit(0),
        )
        wave_sel = frontier.select_wave(polite, cfg.wave_budget, seq_bucket=seq_bucket)
        if cfg.fetch_profile:
            # F-23: profile headers merged under the job's own
            from crawlspark import stealth

            wave_sel = stealth.with_profile_headers(
                wave_sel, spark, cfg.fetch_profile
            )
        wave_sel = cut_lazy(wave_sel)
        fetched = FT.fetch_simulate(
            wave_sel, self.pages, self.response_cache,
            carry_body_html=cfg.extract_links_from_body,
            carry_body_gz=cfg.decode_gzip_body,
            carry_js_links=(cfg.fetcher == "js"),
        )
        if cfg.extract_links_from_body and "body_html" in fetched.columns:
            # P-3 link extraction from the response body. Default: the
            # every-anchor Catalyst regexp (no UDF). Job types that
            # declare link_selectors (round 4) instead get their links
            # from the CSS-selector engine (crawlspark/selectors.py —
            # the goquery Find().Attr() analog, Arrow-batched); types
            # without selectors fall back via coalesce, so the
            # zero-config path stays pure Catalyst. Cache hits keep
            # their stored out_links (extracted when the response was
            # first fetched); body is dropped immediately so HTML never
            # enters the cut wave state.
            anchor_links = F.regexp_extract_all(
                F.col("body_html"), F.lit(r'<a href="([^"]+)"'), 1
            )
            sel_types = {
                t: s.link_selectors
                for t, s in self.specs.items()
                if getattr(s, "link_selectors", ())
            }
            if sel_types:
                from crawlspark import selectors as SEL

                extracted = F.coalesce(
                    SEL.links_by_type_udf(sel_types)(
                        F.col("job_type"), F.col("body_html")
                    ),
                    anchor_links,
                )
            else:
                extracted = anchor_links
            fetched = fetched.withColumn(
                "out_links",
                F.when(
                    ~F.col("from_cache") & F.col("body_html").isNotNull(),
                    extracted,
                ).otherwise(F.col("out_links")),
            ).drop("body_html")
        if cfg.fetcher == "js" and "js_links" in fetched.columns:
            # F-24: the js fetcher also observes render-injected links,
            # appended after the static ones (document order, then render
            # order). Cache hits keep their stored (already-effective) links.
            fetched = fetched.withColumn(
                "out_links",
                F.when(
                    F.col("from_cache"), F.col("out_links")
                ).otherwise(
                    F.concat(
                        F.coalesce(F.col("out_links"), F.array().cast("array<string>")),
                        F.coalesce(F.col("js_links"), F.array().cast("array<string>")),
                    )
                ),
            ).drop("js_links")
        if cfg.decode_gzip_body and "body_gz" in fetched.columns:
            # F-11 transparent gzip decode (nethttp.go:76-86); the raw
            # gz bytes are dropped so only the text enters the wave cache
            fetched = fetched.withColumn(
                "body_text",
                F.when(~F.col("from_cache"), FT.gunzip_udf()(F.col("body_gz"))),
            ).drop("body_gz")
        if cfg.enable_hooks:
            # F-29 hooks side-output (request_hooks.go:31-48)
            fetched = fetched.withColumn("hook_events", FT.hook_events_expr())
        # RDD leaf, not .persist(): the fused union's expansion branch
        # is attribute-deduped by the analyzer, after which the cached
        # plan no longer matches and the branch recomputed selection +
        # fetch + outcomes from scratch (see session.cut_lazy). As a leaf,
        # both branches — and the end-of-run output union — read the same
        # once-computed blocks.
        out = cut_lazy(FT.apply_outcomes(fetched, wave_ts))

        # THE wave's single driver action (round 4; was 2 in r2/r3): the
        # outcome aggregate and the expansion per-partition aggregate are
        # unioned into one collect, so one job materializes selection +
        # fetch + outcomes AND the candidate expansion — the two legs'
        # stages overlap instead of paying two sequential job latencies.
        done = out.filter(F.col("outcome") == "done")
        parted, ex_agg = self._expand_plan(done, st.seen)
        oc_agg = out.groupBy("outcome", "is_init").agg(F.count("*").alias("n"))
        fused = oc_agg.select(
            F.lit("oc").alias("_kind"), "outcome", "is_init", "n"
        ).unionByName(
            ex_agg.withColumn("_kind", F.lit("ex")),
            allowMissingColumns=True,
        )
        # Bloom-tier delta maintenance as a THIRD branch of the fused
        # action (round 5): once the tier is synced, each wave's fresh-key
        # bitsets are aggregated over the expansion leaf and collected
        # with the outcome/expansion stats — tier upkeep was a dedicated
        # 1-3 s driver round-trip per wave (pure serial floor, and the
        # main per-wave cost growth once the tier engages), now it
        # overlaps the stages the wave already runs.
        bloom_live = self._bloom_synced
        if bloom_live:
            bloom_agg = self.bloom.delta_agg_df(
                parted.filter(F.col("_fresh")).select("url_hash")
            )
            fused = fused.unionByName(
                bloom_agg.withColumn("_kind", F.lit("bloom")),
                allowMissingColumns=True,
            )
        rows = self._retry_action(fused.collect)
        oc_rows = [r for r in rows if r["_kind"] == "oc"]
        ex_stats = [r for r in rows if r["_kind"] == "ex"]
        if bloom_live:
            self.bloom.merge_rows([r for r in rows if r["_kind"] == "bloom"])
        by_outcome: dict[str, int] = {}
        n_sched_init = n_retried_init = 0
        for r in oc_rows:
            by_outcome[r["outcome"]] = by_outcome.get(r["outcome"], 0) + r["n"]
            if r["is_init"]:
                n_sched_init += r["n"]
                if r["outcome"] == "retry":
                    n_retried_init += r["n"]
        n_sched = sum(by_outcome.values())
        t_expand = time.monotonic()
        if n_sched == 0:
            return None

        # broadcast hint, not AQE-discovered: wave_sel is ≤ wave_budget
        # rows (driver-bounded), while `eligible` is the frontier — a
        # sort-merge anti-join would shuffle the whole frontier on
        # job_id every wave. The hint also keeps the join broadcast
        # inside the frontier snapshot's statically-compiled cut
        # (session.cut_lazy), where AQE isn't around to discover it.
        leftover = eligible.join(
            F.broadcast(wave_sel.select("job_id")), "job_id", "left_anti"
        )
        st.stopped = by_outcome.get("stop", 0) > 0

        order_df = out.select(
            F.lit(wave).cast("int").alias("wave"),
            F.col("rank").cast("long").alias("rank"),
            "job_id", "url_canon", "is_init",
        )
        responses_df = done.select(
            "cache_key", "status", "body_image_id", "out_links", "latency_us"
        )
        if self.io:
            responses_df = self._materialize(responses_df, "responses", wave)
        st.parts["responses"].append(responses_df)
        # O-1 result-emit gate (scrapemate.go:585-591) + F-5 init results
        # discarded (scrapemate.go:489-523) + P-2 per-type emit (a collect
        # job's Process returns nil data): caching/expansion above are NOT
        # gated — only the results stream is
        results_df = self._result_rows(
            done.filter(
                F.col("use_in_results")
                & ~F.col("is_init")
                & jobtypes.emit_result_expr(self.specs, F.col("job_type"))
            ),
            wave,
        )
        terminal_df = out.filter(F.col("outcome").isin("done", "failed", "stop")).select(
            "job_id", "url_canon", "attempts",
            F.when(F.col("outcome") == "done", C.ST_DONE)
            .otherwise(C.ST_FAILED)
            .alias("final_state"),
            F.lit(wave).cast("int").alias("wave"),
        )

        (admitted, n_allowed, seen_delta, blocked_term,
         n_candidates, n_new, n_allowed_init) = (
            self._expand_finish(parted, ex_stats, wave, wave_ts, st.seq_base)
        )
        self._seen_rows += n_new
        st.seq_base += n_allowed
        st.n_init_pending += n_allowed_init + n_retried_init - n_sched_init
        # arithmetic identity — no action: the new frontier is exactly
        # (previous pending − selected) ∪ retried ∪ admitted
        n_retried = by_outcome.get("retry", 0)
        st.n_pending += n_retried + n_allowed - n_sched
        return _Wave(
            future=future, leftover=leftover,
            retried=out.filter(F.col("outcome") == "retry").select(*PENDING_COLS),
            admitted=admitted, seen_delta=seen_delta,
            order=order_df, results=results_df,
            terminal=terminal_df.unionByName(blocked_term),
            metrics={
                "wave": wave,
                "scheduled": n_sched,
                "completed": by_outcome.get("done", 0),
                "failed": by_outcome.get("failed", 0) + by_outcome.get("stop", 0),
                "retried": n_retried,
                "new_urls": n_new,
                "deduped": n_candidates - n_new,
                "pending_after": st.n_pending,
            },
            stamps=(t_wave, t_expand, time.monotonic()),
        )

    def _commit(self, st: _Loop, w: _Wave) -> None:
        """Cut the wave's admitted rows, seen delta and frontier snapshot,
        fold the delta into the seen set, keep the bloom tier up, record the
        wave's outputs and metrics, and commit the manifest."""
        wave = st.wave
        # a cut in both modes: no resume reads the admitted rows back (the
        # durable frontier snapshot below holds them)
        admitted = cut_lazy(w.admitted)
        # narrow each seen delta before it enters the probe-side union
        # chain: a delta holds ≤ one wave's fresh keys (≪ the full seen
        # set the shuffle width is sized for), yet at full width the
        # chain grows the seen-probe stage by n_shuffle tasks per wave
        # between compactions (event-log profile: +64 tasks/wave). A
        # coalesce is width-only — no exchange; the upstream reads the
        # already-cut expansion frame — and cuts the leak 8×.
        seen_delta = self._materialize(
            w.seen_delta.coalesce(max(1, self._n_shuffle // 8)), "seen", wave
        )
        # width-only narrowing of the union branches (round 6 second
        # pass): each branch is a filter over a 64-partition leaf, so the
        # snapshot repartition's MAP side otherwise runs 4×n_shuffle
        # tiny tasks per wave (~40 rows each — event-log: a 256-task
        # 0.9 s stage that is mostly scheduling). coalesce is exchange-
        # free and value-preserving; ≤ a wave's rows keep ample
        # parallelism at n_shuffle/4 per branch.
        nbq = max(1, self._n_shuffle // 4)
        new_pending = (
            w.future.coalesce(nbq)
            .unionByName(w.leftover.coalesce(nbq))
            .unionByName(w.retried.coalesce(nbq))
            .unionByName(admitted.coalesce(nbq))
        )
        # re-bucket + sort the frontier snapshot: without this the union
        # chain inflates partition counts O(waves²); with it the next
        # wave's host window reads host-clustered, (priority, seq)-sorted
        # runs (SURVEY.md §4.4 sorted-partition layout)
        new_pending = new_pending.repartition(
            self._n_shuffle, "host_bucket"
        ).sortWithinPartitions("priority", "seq")
        st.pending = self._materialize(new_pending, "pending", wave)
        st.seen = st.seen.unionByName(seen_delta)  # both sides already materialized
        self._bloom_maintain(st.seen)
        self._seen_chain += 1
        if self._seen_chain >= 8:
            # periodic compaction (the Nutch CrawlDb-merge analog): bound
            # the delta chain so anti-join scan width stays O(P), not
            # O(waves). A cut in both modes: a resume reads the per-wave
            # seen deltas, never the compacted set
            st.seen = cut_lazy(st.seen.repartition(self._n_shuffle, "url_hash"))
            self._seen_chain = 0

        # wave outputs stay LAZY over the wave's cut `out`/`parted` frames in
        # memory mode (one final union at end-of-run); durable mode writes
        # them now so a resume can replay committed waves. Each wave's
        # result rows hold ≤ one wave's rows yet inherit the full n_shuffle
        # width of the `out` leaf, so they are narrowed first (width-only:
        # no exchange, rows and values unchanged). Validation comes after
        # the narrowing — per written wave here, above the union in
        # _outputs — because a pandas UDF under a coalesce still starts its
        # Python runner once per partition of the leaf beneath it.
        results_df = w.results.coalesce(max(1, self._n_shuffle // 8))
        order_df, terminal_df = w.order, w.terminal
        if self.io:
            order_df = self._materialize(order_df, "order", wave)
            results_df = self._materialize(
                self._validate_results(results_df), "results", wave
            )
            terminal_df = self._materialize(terminal_df, "terminal", wave)
        st.parts["order"].append(order_df)
        st.parts["results"].append(results_df)
        st.parts["terminal"].append(terminal_df)

        t_wave, t_expand, t_commit = w.stamps
        t_end = time.monotonic()
        st.metrics.append({
            **w.metrics,
            "wall_sec": round(t_end - t_wave, 3),
            "phases": {
                "wave": round(t_expand - t_wave, 3),
                "expand": round(t_commit - t_expand, 3),
                "commit": round(t_end - t_commit, 3),
            },
        })
        if self.io:
            self.io.commit_manifest(
                {"wave": wave, "seq_base": st.seq_base, "stopped": st.stopped,
                 "metrics": st.metrics, "n_pending": st.n_pending,
                 "n_init_pending": st.n_init_pending}
            )

    def _outputs(self, st: _Loop) -> CrawlRun:
        """The end-of-run unions of every wave's outputs (lazy)."""

        def _union(parts, schema):
            if not parts:
                return self.spark.createDataFrame([], schema)
            return reduce(DataFrame.unionByName, parts)

        results = _union(st.parts["results"], RESULTS_SCHEMA)
        if st.parts["results"] and not self.io:
            # durable parts were validated as each wave was written
            results = self._validate_results(results)
        return CrawlRun(
            responses=_union(st.parts["responses"], RESPONSES_SCHEMA),
            order=_union(st.parts["order"], ORDER_SCHEMA),
            results=results,
            terminal=_union(st.parts["terminal"], TERMINAL_SCHEMA),
            seen=st.seen,
            metrics=st.metrics,
            waves=st.wave,
            stopped=st.stopped,
            resumed_from_wave=st.resumed_from,
        )
