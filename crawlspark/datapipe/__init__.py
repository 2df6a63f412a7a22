"""Training-data pipeline operators over document/embedding/image tables.

These are the large-scale data-curation operations a 100 TB crawl corpus
needs downstream of the frontier engine: dedup (exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding near-dup), similarity search, text analysis, and
multimodal column plumbing. All Spark-built-in-first; pandas UDFs only where
the math genuinely needs numpy.
"""

from __future__ import annotations


def release_caches(spark) -> None:
    """Clear the session's SQL cache. The datapipe caches nothing: every
    shared frame an operator builds is a lineage cut (`session.cut_lazy`)
    that the context cleaner frees, so this only drops what callers
    persisted themselves — the crawl engine's fixtures (pages, robots,
    budgets, response cache) among them. Do not call it while an engine is
    still crawling: its fixtures would be recomputed from source."""
    spark.catalog.clearCache()
