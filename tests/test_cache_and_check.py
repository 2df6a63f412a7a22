"""C-2 cache-first fetch parity + F-13 custom CheckResponse parity.

Reference: cache-hit skips fetch but still parses & processes
(scrapemate_test.go:812-831, scrapemate.go:345-375); only successful
responses are cached (scrapemate.go:370-374); a custom CheckResponse
overrides the 2xx default (scrapemate_test.go:710-732).
"""

import pytest

from crawlspark import constants as C
from crawlspark import synth
from crawlspark.engine import CrawlConfig, CrawlEngine
from crawlspark.oracle import run_oracle


@pytest.fixture(scope="module")
def world():
    return synth.make_world(n_hosts=4, total_pages=60)


def _engine(spark, world, pages=None, **kw):
    cfg = CrawlConfig(validate_images=False, wave_budget=40)
    return CrawlEngine(
        spark,
        pages=pages if pages is not None else synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        images=None,
        config=cfg,
        **kw,
    )


def test_cache_hit_skips_fetch_but_still_processes(spark, world):
    # run 1: cold crawl → its successful responses become the cache
    run1 = _engine(spark, world).run(synth.seeds_df(spark, world))
    done1 = {(r.url_canon, r.status) for r in run1.results.collect()}
    assert done1

    # run 2: the "site is down" (empty pages table) but the cache is warm →
    # every previously-successful URL must still complete, served from cache,
    # and still flow through processing/expansion (same done set)
    empty_pages = spark.createDataFrame(
        [],
        "url_hash long, url string, status int, flaky_attempts int, "
        "body_image_id string, out_links array<string>, redirect_to string, latency_us long",
    )
    run2 = _engine(
        spark, world, pages=empty_pages, response_cache=run1.responses
    ).run(synth.seeds_df(spark, world))
    res2 = run2.results.collect()
    done2 = {(r.url_canon, r.status) for r in res2}
    assert done2 == done1
    assert all(r.from_cache for r in res2)
    assert all(r.latency_us == 0 for r in res2)
    # nothing in run 1 was served from cache
    assert run1.results.filter("from_cache").count() == 0


def test_custom_check_response_overrides_2xx(spark, world):
    # two permanently-500 pages: default check fails the job, a custom accept
    # range of exactly 500 makes it a success (customDoCheckResponse parity)
    urls = []
    for i in range(2):
        url = f"http://h0001.test/dead/{i}"
        canon = synth.canon_of(url)
        world.pages[canon] = synth.PageSpec(
            url_canon=canon, status=500, flaky_attempts=0,
            body_image_id=None, out_links=[], latency_us=1000,
        )
        urls.append(url)
    world.seeds = [
        {
            "job_id": "std00", "url": urls[0], "method": "GET", "body": None,
            "headers": {}, "url_params": {}, "priority": 0,
            "max_retries": 0, "retry_policy": C.RETRY_JOB,
            "max_retry_delay_us": C.DEFAULT_MAX_RETRY_DELAY_US,
            "accept_lo": 200, "accept_hi": 299, "seed_order": 0,
        },
        {
            "job_id": "cust0", "url": urls[1], "method": "GET", "body": None,
            "headers": {}, "url_params": {}, "priority": 0,
            "max_retries": 0, "retry_policy": C.RETRY_JOB,
            "max_retry_delay_us": C.DEFAULT_MAX_RETRY_DELAY_US,
            "accept_lo": 500, "accept_hi": 500, "seed_order": 1,
        },
    ]
    run = _engine(spark, world).run(synth.seeds_df(spark, world))
    golden = run_oracle(world, wave_budget=40)
    got = {r.job_id: (r.attempts, r.final_state) for r in run.terminal.collect()}
    assert got["std00"] == (1, C.ST_FAILED)
    assert got["cust0"] == (1, C.ST_DONE)
    want = {g["job_id"]: (g["attempts"], g["final_state"]) for g in golden.retry_trace}
    assert got == want
