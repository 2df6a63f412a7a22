"""Scheduler-parity golden tests: the Spark BSP engine must reproduce the
pure-Python scrapemate-semantics oracle bit-for-bit (SURVEY.md §2.3/§5.2.1):
crawl order, seen set, retry trace, results, and per-wave metrics."""

import pytest

from crawlspark import constants as C
from crawlspark import engine, synth
from crawlspark import seen as SEEN
from crawlspark.engine import CrawlConfig, CrawlEngine
from crawlspark.oracle import run_oracle


def _run_both(spark, world, **cfg_kwargs):
    cfg = CrawlConfig(validate_images=False, **cfg_kwargs)
    eng = CrawlEngine(
        spark,
        pages=synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        images=None,
        config=cfg,
    )
    run = eng.run(synth.seeds_df(spark, world))
    golden = run_oracle(
        world,
        wave_budget=cfg.wave_budget,
        default_host_budget=cfg.default_host_budget,
        wave_period_us=cfg.wave_period_us,
        max_waves=cfg.max_waves,
    )
    return run, golden


@pytest.fixture(scope="module")
def small_run(spark):
    world = synth.make_world(n_hosts=6, total_pages=110)
    return _run_both(spark, world, wave_budget=40)


def test_crawl_order_bit_for_bit(small_run):
    run, golden = small_run
    got = [
        (r.wave, r.rank, r.job_id, r.url_canon)
        for r in run.order.orderBy("wave", "rank").collect()
    ]
    want = [(g["wave"], g["rank"], g["job_id"], g["url_canon"]) for g in golden.crawl_order]
    assert got == want


def test_seen_set_exact(small_run):
    run, golden = small_run
    got = {(r.cache_key) for r in run.seen.collect()}
    want = {g["cache_key"] for g in golden.seen}
    assert got == want
    assert run.seen.count() == len(golden.seen)  # no dup rows either


def test_retry_trace(small_run):
    run, golden = small_run
    got = {
        r.job_id: (r.attempts, r.final_state) for r in run.terminal.collect()
    }
    want = {g["job_id"]: (g["attempts"], g["final_state"]) for g in golden.retry_trace}
    assert got == want


def test_results_parent_before_child(small_run):
    run, golden = small_run
    got = [
        (r.wave, r.rank, r.job_id, r.url_canon, r.status, r.attempts)
        for r in run.results.orderBy("wave", "rank").collect()
    ]
    want = [
        (g["wave"], g["rank"], g["job_id"], g["url_canon"], g["status"], g["attempts"])
        for g in golden.results
    ]
    assert got == want
    # expansion ordering (scrapemate_test.go:445-534): every parent's result
    # wave strictly precedes all of its children's result waves
    by_id = {g["job_id"]: g["wave"] for g in golden.results}
    for g in golden.results:
        if g["parent_id"] and g["parent_id"] in by_id:
            assert by_id[g["parent_id"]] < g["wave"]


def test_metrics_match(small_run):
    run, golden = small_run
    got = [
        {k: m[k] for k in ("wave", "scheduled", "completed", "failed", "retried", "new_urls", "deduped", "pending_after")}
        for m in run.metrics
    ]
    assert got == golden.metrics


def test_wave_phase_timings_account_for_wall(small_run):
    run, _ = small_run
    assert run.metrics
    for m in run.metrics:
        assert set(m["phases"]) == {"wave", "expand", "commit"}
        assert all(s >= 0 for s in m["phases"].values())
        assert abs(sum(m["phases"].values()) - m["wall_sec"]) <= 0.1 * m["wall_sec"]


def test_tight_budget_changes_schedule_identically(spark):
    # politeness + global budget binding: both sides must agree under pressure
    world = synth.make_world(n_hosts=5, total_pages=60)
    run, golden = _run_both(
        spark, world, wave_budget=7, default_host_budget=2
    )
    got = [
        (r.wave, r.rank, r.job_id) for r in run.order.orderBy("wave", "rank").collect()
    ]
    want = [(g["wave"], g["rank"], g["job_id"]) for g in golden.crawl_order]
    assert got == want
    assert all(m["scheduled"] <= 7 for m in run.metrics)


def test_stop_scraping_cancels_crawl(spark):
    # StopScraping: whole crawl cancels (scrapemate_test.go:733-763)
    world = synth.make_world(n_hosts=4, total_pages=80)
    # make the first permanently-failing page a stop-policy seed
    bad = next(
        p.url_canon for p in world.pages.values() if p.status >= 400 and not p.flaky_attempts
    )
    world.seeds.append(
        {
            "job_id": "seedSTOP",
            "url": bad,
            "method": "GET",
            "body": None,
            "headers": {},
            "url_params": {},
            "priority": 0,
            "max_retries": 3,
            "retry_policy": C.STOP_SCRAPING,
            "max_retry_delay_us": C.DEFAULT_MAX_RETRY_DELAY_US,
            "seed_order": len(world.seeds),
        }
    )
    run, golden = _run_both(spark, world, wave_budget=50)
    assert golden.stopped and run.stopped
    assert run.waves == golden.waves == 1  # cancelled after the first wave
    got = [(r.wave, r.rank, r.job_id) for r in run.order.orderBy("wave", "rank").collect()]
    want = [(g["wave"], g["rank"], g["job_id"]) for g in golden.crawl_order]
    assert got == want


def test_retry_attempt_goldens(spark):
    """The 1/2/6-attempt contract (scrapemate_test.go:654-708) through the
    full engine: maxRetries 0 → 1 attempt, 1 → 2, 10 → 6 (cap 5)."""
    world = synth.make_world(n_hosts=4, total_pages=80)
    dead = []
    for i in range(3):
        url = f"http://h0001.test/dead/{i}"
        canon = synth.canon_of(url)
        world.pages[canon] = synth.PageSpec(
            url_canon=canon, status=500, flaky_attempts=0,
            body_image_id=None, out_links=[], latency_us=1000,
        )
        dead.append(canon)
    world.seeds = []
    for i, (mr, url) in enumerate(zip((0, 1, 10), dead)):
        world.seeds.append(
            {
                "job_id": f"retry{mr:02d}",
                "url": url,
                "method": "GET",
                "body": None,
                "headers": {},
                "url_params": {},
                "priority": 0,
                "max_retries": mr,
                "retry_policy": C.RETRY_JOB,
                "max_retry_delay_us": C.DEFAULT_MAX_RETRY_DELAY_US,
                "seed_order": i,
            }
        )
    run, golden = _run_both(spark, world, wave_budget=50)
    got = {r.job_id: (r.attempts, r.final_state) for r in run.terminal.collect()}
    assert got["retry00"] == (1, C.ST_FAILED)
    assert got["retry01"] == (2, C.ST_FAILED)
    assert got["retry10"] == (6, C.ST_FAILED)
    want = {g["job_id"]: (g["attempts"], g["final_state"]) for g in golden.retry_trace}
    assert got == want


def test_discard_policy_single_attempt(spark):
    # DiscardJob: fail after first attempt, crawl continues
    # (scrapemate_test.go:764-793, scrapemate.go:422-427)
    world = synth.make_world(n_hosts=4, total_pages=80)
    flaky = next(
        p.url_canon for p in world.pages.values() if p.flaky_attempts >= 1
    )
    world.seeds = [
        {
            "job_id": "discard0",
            "url": flaky,  # would succeed on retry — but policy says give up
            "method": "GET",
            "body": None,
            "headers": {},
            "url_params": {},
            "priority": 0,
            "max_retries": 5,
            "retry_policy": C.DISCARD_JOB,
            "max_retry_delay_us": C.DEFAULT_MAX_RETRY_DELAY_US,
            "seed_order": 0,
        },
        {
            "job_id": "normal00",
            "url": synth._page_url(1, 0),
            "method": "GET",
            "body": None,
            "headers": {},
            "url_params": {},
            "priority": 1,
            "max_retries": 2,
            "retry_policy": C.RETRY_JOB,
            "max_retry_delay_us": C.DEFAULT_MAX_RETRY_DELAY_US,
            "seed_order": 1,
        },
    ]
    run, golden = _run_both(spark, world, wave_budget=50)
    got = {r.job_id: (r.attempts, r.final_state) for r in run.terminal.collect()}
    assert got["discard0"] == (1, C.ST_FAILED)
    assert not run.stopped  # crawl continued past the discard
    assert got == {g["job_id"]: (g["attempts"], g["final_state"]) for g in golden.retry_trace}


def test_bloom_tier_fused_delta_stays_exact(spark, monkeypatch):
    """Round 5: once synced, bloom-tier deltas ride the wave's fused action
    (engine run loop `bloom_live` branch) instead of a dedicated per-wave
    job. A dropped delta would be a bloom FALSE NEGATIVE — a re-discovered
    URL marked definitely-new skips the exact seen join and is admitted
    twice. Force the tier live from wave 1 (threshold=2) on a revisit-heavy
    world and require the full golden parity: order, seen set, metrics."""
    monkeypatch.setattr(engine, "BLOOM_PREFILTER_MIN_SEEN", 2)
    merged = []
    merge_rows = SEEN.PartitionedBloom.merge_rows

    def spy(self, rows):
        merged.append(len(rows))
        return merge_rows(self, rows)

    monkeypatch.setattr(SEEN.PartitionedBloom, "merge_rows", spy)
    world = synth.make_world(n_hosts=6, total_pages=110)
    run, golden = _run_both(spark, world, wave_budget=40)
    # the tier was live: one catch-up sync, then a delta every wave
    assert len(merged) >= 1 + len(run.metrics), merged
    got = [
        (r.wave, r.rank, r.job_id, r.url_canon)
        for r in run.order.orderBy("wave", "rank").collect()
    ]
    want = [(g["wave"], g["rank"], g["job_id"], g["url_canon"]) for g in golden.crawl_order]
    assert got == want
    assert {r.cache_key for r in run.seen.collect()} == {g["cache_key"] for g in golden.seen}
    assert run.seen.count() == len(golden.seen)
    got_m = [
        (m["wave"], m["scheduled"], m["new_urls"], m["deduped"]) for m in run.metrics
    ]
    want_m = [
        (m["wave"], m["scheduled"], m["new_urls"], m["deduped"]) for m in golden.metrics
    ]
    assert got_m == want_m
