"""crawlspark — a from-scratch PySpark-native URL-frontier + fetch scheduler.

Reproduces the *semantics* of gosom/scrapemate (job-queue ordering, retry/
backoff, cache-key dedup, crawl expansion — see SURVEY.md §2.3) as Spark-native
state: the frontier is a partitioned table, scheduling is a window + top-k over
sorted partitions, dedup is a bloom-prefiltered anti-join, and every per-row
computation is either a Spark built-in expression or a vectorized Arrow/pandas
UDF. This is NOT a port of the reference's goroutine/channel pipeline.

Reference (read-only): /root/reference (gosom/scrapemate, Go).
"""

__version__ = "0.1.0"

from crawlspark import constants  # noqa: F401
