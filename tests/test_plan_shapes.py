"""Physical-plan pins: the contract queries must KEEP the plan shapes that
make them scale — pushed filters, pruned scans, broadcast joins, codegen'd
hot paths, no Python eval in JVM-only pipelines, no single-partition sorts.

A regression that silently flips one of these (a broadcast that becomes a
shuffle join, a filter that stops reaching the parquet scan) passes every
value-correctness test but dies at 100×; these assertions catch it in CI.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return E.queries()


def test_q1_filter_pushed_to_scan(spark, queries):
    p = plan_of(queries["q1_lineitem_agg"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: the scan must not read the full 16-column lineitem row
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema  # not needed by Q1


def test_revenue_join_is_broadcast(spark, queries):
    p = plan_of(queries["broadcast_join_revenue"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_jvm_only_queries_have_no_python_eval(spark, queries):
    # the text/dedup hot paths are pure Catalyst — a Python UDF sneaking in
    # would show up as BatchEvalPython/ArrowEvalPython
    for name in ["text_features", "simhash_band_pairs", "ngram_jaccard_pairs",
                 "repetition_quality", "dedup_exact", "pii_scrub"]:
        p = plan_of(queries[name](spark, SF))
        assert "EvalPython" not in p, f"{name} plan contains Python eval"


def test_embedding_neardup_is_bucketed_not_cartesian(spark, queries):
    # round 4: the contract near-dup binds the LSH-bucketed plan — an
    # all-pairs regression would reappear as a cartesian/nested-loop join
    p = plan_of(queries["embedding_neardup"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_fifo_rank_is_not_single_partition_window(spark, queries):
    # the F-2 contract query must use the engine's range-partitioned rank,
    # not a Window.partitionBy over 3 priority values (3 giant sorts)
    p = plan_of(queries["fifo_within_priority"](spark, SF))
    assert "SinglePartition" not in p


def test_codegen_covers_the_agg_pipeline(spark, queries):
    # AQE only finalizes the physical plan at execution, so run the query
    # and inspect the executed plan: codegen stages appear as '*(n)' markers
    df = queries["q1_lineitem_agg"](spark, SF)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed, f"no WholeStageCodegen span in:\n{executed}"


def test_wave_leaf_sharing_computes_upstream_once(spark):
    """Round 5: the wave's fused action (union of two aggregates) and the
    rank self-join share their input via RDD leaves (engine._cut_lazy), not
    .persist() — the analyzer's attribute-id dedup on a union/self-join
    disconnects cached-plan matching, and the live wave plan was recomputing
    politeness ~4x and fetch 2x per wave. Pin the mechanism: a union of two
    aggregates over one lazy localCheckpoint leaf must execute the upstream
    exactly once (counted via an accumulator in a deterministic UDF that the
    second branch consumes, so column pruning can't hide a recompute)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    sc = spark.sparkContext
    acc = sc.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    bump_udf = F.udf(bump, LongType())
    base = spark.range(0, 1000).select(
        F.col("id").alias("seq"),
        (F.col("id") % 3).alias("priority"),
        bump_udf(F.col("id")).alias("marked"),
    ).withColumn("outcome", F.when(F.col("seq") % 2 == 0, "done").otherwise("retry"))

    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        leaf = base.localCheckpoint(eager=False)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)

    oc = leaf.groupBy("outcome").agg(F.count("*").alias("n")).select(
        F.lit("oc").alias("_k"), "outcome", "n"
    )
    ex = (
        leaf.filter(F.col("outcome") == "done")
        .groupBy("priority")
        .agg(F.sum("marked").alias("n"))
        .select(F.lit("ex").alias("_k"), F.col("priority").cast("string").alias("outcome"), "n")
    )
    rows = oc.unionByName(ex).collect()
    assert len(rows) == 2 + 3  # outcomes done/retry + priorities 0..2 (even seqs hit all three)
    assert acc.value == 1000, (
        f"upstream executed {acc.value / 1000:.1f}x — leaf sharing broken"
    )


def _exec_nodes(plan, above=()):
    """(node name, names of the nodes above it) for every node of an
    executed plan, looking inside adaptive plans and their query stages."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _exec_nodes(plan.executedPlan(), above)
        return
    if name.endswith("QueryStage"):
        yield from _exec_nodes(plan.plan(), above)
        return
    yield name, above
    kids = plan.children()
    for i in range(kids.size()):
        yield from _exec_nodes(kids.apply(i), above + (name,))


@pytest.mark.parametrize("payload_mode", ["table", "synthetic"])
def test_crawl_results_validate_above_the_wave_narrowing(spark, payload_mode):
    """A pandas UDF under a Coalesce starts its Python runner once per
    partition of the leaf beneath the Coalesce, not once per output
    partition. The engine therefore validates the results once, above the
    end-of-run union of the narrowed per-wave frames: no ArrowEvalPython
    node under a Coalesce. In table mode the images join holds the
    projection above the Union, so there is exactly one such node; in
    synthetic mode the optimizer pushes the projection through the Union
    into each wave's branch, where it still sits above the Coalesce."""
    from crawlspark import synth
    from crawlspark.engine import CrawlConfig, CrawlEngine

    world = synth.make_world(n_hosts=6, total_pages=300)
    eng = CrawlEngine(
        spark,
        pages=synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        images=synth.images_df(spark, world),
        config=CrawlConfig(wave_budget=60, max_waves=2, payload_mode=payload_mode),
    )
    run = eng.run(synth.seeds_df(spark, world))
    assert run.waves == 2
    rows = run.results.collect()
    assert any(r["pixels_ok"] for r in rows)
    nodes = list(_exec_nodes(run.results._jdf.queryExecution().executedPlan()))
    assert "Union" in {name for name, _ in nodes}
    evals = [above for name, above in nodes if name == "ArrowEvalPython"]
    assert evals and not any("Coalesce" in above for above in evals), evals
    if payload_mode == "table":
        assert len(evals) == 1, f"{len(evals)} ArrowEvalPython nodes"
        assert "Union" not in evals[0], evals[0]
