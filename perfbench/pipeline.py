"""The data-pipeline workload: six headline operators of
`__spark_entry__.queries()` over the sf0.01 tables shipped in `data/`,
each written to the noop sink. The crawl engine is never touched.

The benchmark seed only permutes the order the queries run in; the tables
are fixed, so every seed has the same recorded row counts and hashes.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import common, eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# six of bench.py's 28 headline operators, frozen here so the workload
# cannot drift: the crawl-scheduling queries, the relational baseline, exact
# dedup, and the pair-generating n-gram join and span dedup over the
# partitioned documents table, each about a second at sf0.01 on four cores
QUERIES = (
    "fifo_within_priority", "politeness_topk", "q1_lineitem_agg",
    "dedup_exact", "ngram_jaccard_pairs", "span_dedup",
)
TOY_QUERIES = ("politeness_topk", "q1_lineitem_agg", "dedup_exact")


def query_order(seed: int, toy: bool = False) -> list[str]:
    names = list(TOY_QUERIES if toy else QUERIES)
    random.Random(seed).shuffle(names)
    return names


def load_tables(spark) -> None:
    """Fixture set-up: list, open and count every table once."""
    spark.sparkContext.setJobGroup("setup", "tables")
    for t in TABLES:
        spark.read.parquet(os.path.join(DATA, f"{t}.parquet")).count()


def check_pass(spark, names: list[str]) -> dict:
    """Untimed first pass: collects each query's full output and returns
    its row count and order-insensitive hash. It also warms codegen, the
    JIT and the Python workers for the timed passes, which run the same
    plans into the noop sink."""
    import __spark_entry__ as entry
    from bench.result_hash import row_hash
    from crawlspark.datapipe import release_caches

    queries = entry.queries()
    spark.sparkContext.setJobGroup("check", "pipeline outputs")
    out = {}
    for name in names:
        h, n = row_hash(queries[name](spark, DATA))
        out[name] = {"rows": n, "hash": h}
        release_caches(spark)
    return out


def timed_pass(spark, names: list[str]) -> dict[str, tuple[float, float]]:
    """One pass in the given order: per query (plan build seconds, noop
    execution seconds). Each query runs under job group `query-<name>`."""
    import __spark_entry__ as entry
    from crawlspark.datapipe import release_caches

    queries = entry.queries()
    sc = spark.sparkContext
    out = {}
    for name in names:
        sc.setJobGroup(f"query-{name}", name)
        t0 = time.monotonic()
        df = queries[name](spark, DATA)
        t1 = time.monotonic()
        common.drain(df)
        t2 = time.monotonic()
        out[name] = (t1 - t0, t2 - t1)
        release_caches(spark)
    return out


def check(observed: dict, expected: dict | None) -> list[str]:
    if expected is None:
        return ["no recorded outputs for the pipeline"]
    return [f"{n}: got {o}, recorded {expected.get(n)}"
            for n, o in observed.items() if expected.get(n) != o]


def layer_metrics(one_pass: dict, stages: dict) -> dict:
    qs = eventlog.select(stages, lambda g: g.startswith("query-"), (0.0, float("inf")))
    out = {f"query.{n}_s": b + e for n, (b, e) in one_pass.items()}
    out.update({
        "datapipe.build_s": sum(b for b, _ in one_pass.values()),
        "datapipe.exec_s": sum(e for _, e in one_pass.values()),
        "datapipe.udf_exec_s": eventlog.py_metric(qs, eventlog.PY_TIME),
        "datapipe.shuffle_mb": sum(s["shuffle_write_b"] for s in qs) / (1024 * 1024),
        "datapipe.tasks": float(sum(s["tasks"] for s in qs)),
    })
    return out
