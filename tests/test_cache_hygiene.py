"""Storage hygiene for long-lived sessions (VERDICT r2 item 9): neither a
datapipe operator nor a crawl run leaves a cached frame behind. Their
shared frames are lineage cuts (`session.cut_lazy`) that the context
cleaner frees, so the CacheManager holds only what callers persisted — the
crawl engine's fixtures among them."""

import pathlib

import pytest
from pyspark.sql import functions as F

# the benchmark's checked-in copy of the sf0.01 tables
SF = pathlib.Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.01"


def _docs(spark):
    rows = [
        (i, f"src{i % 3}", f"the quick brown fox {i % 7} jumps over the lazy dog {i}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _n_cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_datapipe_operators_add_no_cache_entries(spark):
    """Every shared frame a datapipe operator builds is a lineage cut, not a
    persist: building and consuming each operator's result leaves the
    session's CacheManager entry count unchanged, with no `release_caches`
    anywhere. The count is synchronous (a persist registers its entry at
    once), so no settling is needed."""
    import __spark_entry__ as E
    from crawlspark.datapipe.dedup import (
        lsh_candidate_pairs,
        neardup_components,
        ngram_jaccard_pairs,
    )
    from crawlspark.datapipe.sampling import curation_pipeline, scan_cumsum

    d = _docs(spark)
    builds = {
        "lsh_candidate_pairs": lambda: lsh_candidate_pairs(d, k=8, bands=4),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(d, min_jaccard=0.2),
        "curation_pipeline": lambda: curation_pipeline(d, budget=64, sample_pct=80),
        "scan_cumsum": lambda: scan_cumsum(
            d.select("doc_id", F.length("text").alias("n")), "doc_id", "n"
        ),
        "neardup_components": lambda: neardup_components(d, k=12, bands=3),
        "fifo_within_priority": lambda: E.queries()["fifo_within_priority"](
            spark, str(SF)
        ),
    }
    added = {}
    for name, build in builds.items():
        base = _n_cache_entries(spark)
        build().write.format("noop").mode("overwrite").save()  # consuming action
        if _n_cache_entries(spark) != base:
            added[name] = _n_cache_entries(spark) - base
    assert not added, added


@pytest.mark.parametrize("mode", ["memory", "durable"])
def test_crawl_run_adds_no_cache_entries(spark, tmp_path, mode):
    """The engine persists only its engine-lifetime fixtures (pages, robots,
    budgets), at construction. Every per-run frame — the selection, the
    ranks, the wave cuts — is a lazy lineage cut the context cleaner frees,
    so a run and the consumption of its outputs leave the session's
    CacheManager entry count where construction left it."""
    from crawlspark import synth
    from crawlspark.engine import CrawlConfig, CrawlEngine

    world = synth.make_world(n_hosts=4, total_pages=80)
    eng = CrawlEngine(
        spark,
        pages=synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        images=None,
        config=CrawlConfig(
            validate_images=False, wave_budget=20, max_waves=3,
            workdir=str(tmp_path) if mode == "durable" else None,
        ),
    )
    base = _n_cache_entries(spark)
    run = eng.run(synth.seeds_df(spark, world))
    assert run.waves == 3
    for out in (run.order, run.results, run.terminal, run.seen, run.responses):
        out.write.format("noop").mode("overwrite").save()
    assert _n_cache_entries(spark) == base
