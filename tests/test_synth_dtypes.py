"""Regression: fixture DataFrames must build in a NON-Arrow session.

Round-1 driver failure: pandas coerced the mixed int/None column
robots.crawl_delay_us to float64; the builder's own Arrow-enabled session
tolerated it, but the driver's plain session took the non-Arrow verify path
and threw FIELD_DATA_TYPE_UNACCEPTABLE (LongType cannot accept 100000.0).
synth now builds small dimension tables from plain-Python tuples; this test
pins that on the exact code path the driver harness uses.
"""

import pytest

from crawlspark import synth

ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture()
def no_arrow(spark):
    prev = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, "false")
    yield spark
    spark.conf.set(ARROW_KEY, prev)


def test_fixture_frames_build_without_arrow(no_arrow):
    spark = no_arrow
    world = synth.make_world(n_hosts=5, total_pages=60)
    # robots carries the nullable crawl_delay_us column that broke round 1
    robots = synth.robots_df(spark, world)
    assert robots.filter("crawl_delay_us IS NOT NULL").count() >= 1
    assert robots.filter("crawl_delay_us = 100000").count() >= 1
    assert synth.politeness_df(spark, world).count() == 5
    assert synth.seeds_df(spark, world).count() == len(world.seeds)
    assert synth.images_df(spark, world).count() == len(world.images)


def test_flagship_crawl_runs_without_arrow(no_arrow):
    # the exact construction of __spark_entry__.queries()['crawl_bsp_end_to_end']
    spark = no_arrow
    from crawlspark.engine import CrawlConfig, CrawlEngine

    world = synth.make_world(n_hosts=4, total_pages=60)
    eng = CrawlEngine(
        spark,
        pages=synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        images=None,
        config=CrawlConfig(validate_images=False, wave_budget=30),
    )
    run = eng.run(synth.seeds_df(spark, world))
    assert run.order.count() > 0


def test_bench_scale_tables_build_without_arrow(no_arrow):
    spark = no_arrow
    pages, seeds, robots, budgets, images = synth.spark_world_tables(
        spark, n_hosts=8, total_pages=200, n_images=8, n_seeds=8
    )
    assert seeds.count() == 8
    assert robots.count() == 8
    assert budgets.count() == 8
    assert images.count() == 8
    assert pages.count() > 0
