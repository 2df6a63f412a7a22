"""Frontier operators: deterministic seq/rank assignment and wave selection.

Reference analogs: Push/Jobs of the memory provider
(/root/reference/adapters/providers/memory/memory.go:29-98) — strict priority
0>1>2 with FIFO within a level — re-expressed as sorts over a frontier table.

Scale notes (the parts a naive port gets wrong at 10^10 rows):
  * Global rank is NEVER a single-partition window. `ranked_within` range-
    partitions on the sort key, ranks within partitions, and adds per-partition
    offsets from a tiny count aggregate (no driver action). Deterministic
    regardless of the physical partition boundaries.
  * `monotonically_increasing_id` is banned — it depends on partition layout,
    so a retried stage could renumber the frontier (SURVEY.md §7.5.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark import constants as C

ORDER_COLS = ("priority", "seq")


def normalize_priority(col):
    """memory.go:78-87: unknown priority routes to the high channel (0)."""
    return F.when(col.isin(*C.KNOWN_PRIORITIES), col).otherwise(
        F.lit(C.PRIORITY_HIGH)
    ).cast("int")


def with_inspark_rank_bucketed(
    df: DataFrame,
    bucket_col,
    rank_col: str = "rank",
    n_parts: int | None = None,
    *,
    materialize,
) -> DataFrame:
    """Global (priority, seq) rank in ONE explicit hash exchange, no sampling.

    `ranked_within(df, (), ORDER_COLS)` pays, per call: the range-bounds
    sampling job that `repartitionByRange` hides, the range exchange itself,
    AND a second full exchange because the rank window's required
    hashpartitioning(_pid) does not match rangepartitioning. Here the
    caller supplies `bucket_col` — a pure row function that must be
    MONOTONE NON-DECREASING in `seq` within each priority value (the engine
    derives one from its driver-tracked seq watermarks; any clamped linear
    map of seq qualifies). Then:

      _rn      = row_number within (_pid, priority) ordered by seq
      offsets  = per-(_pid, priority) counts, prefix-summed in
                 (priority, _pid) order — correct because bucket monotonicity
                 in seq within a priority means every row of (p, b) sorts
                 before every row of (p, b+1), and priority-major order
                 handles the rest. The aggregate is ≤ 3·n_parts rows, so the
                 single-partition prefix window is driver-trivial.
      rank     = _rn + offset, broadcast-joined back.

    One exchange total; the window, the count aggregate, and the join all
    ride it. Deterministic under stage retry (the bucket is a row function;
    re-sampled range bounds are not). Balance comes from the caller's bucket
    map, not from sampling — the engine's seq-space map is near-uniform for
    a FIFO-draining frontier and degrades only by crowding stragglers into
    bucket 0 (clamped), never by breaking order.
    """
    spark = df.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parted = df.withColumn("_pid", bucket_col).repartition(n_parts, "_pid")
    # shared by the offsets broadcast subplan AND the main join — without a
    # cut the whole upstream (politeness windows, eligibility scan) runs
    # twice. The engine passes a lazy RDD-leaf cut as `materialize`, not
    # .persist(): the self-join below makes the analyzer
    # rewrite the offsets side's attribute ids, after which the cache
    # manager no longer matches the persisted plan on that side and the
    # offsets subplan recomputes the upstream from scratch (observed on the
    # live wave plan). An RDD leaf survives the rewrite — renamed
    # attributes still bind to the same checkpointed RDD.
    parted = parted.withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy("_pid", "priority").orderBy("seq")),
    )
    parted = materialize(parted)
    offsets = (
        parted.groupBy("_pid", "priority")
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("priority", "_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_n")
    )
    return (
        parted.join(F.broadcast(offsets), ["_pid", "priority"])
        .withColumn(rank_col, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def ranked_within(
    df: DataFrame,
    part_cols,
    order_cols,
    rank_col: str = "rank",
    n_parts: int | None = None,
    materialize=DataFrame.persist,
) -> DataFrame:
    """row_number() within `part_cols` WITHOUT funnelling each group through
    one task. A plain Window.partitionBy(priority) with 3 priority values is
    three single-task sorts of N/3 rows — at 100× one executor sorts 10^9
    rows. Here: range-partition on (part_cols, order_cols), rank within
    (physical partition, group), then add per-(partition, group) offsets
    computed from a tiny count aggregate — all lazy, no driver action.
    Empty `part_cols` gives the global rank by `order_cols`.

    `materialize` cuts the ranked frame, which the offsets subplan and the
    main join both read. The default persists it, so datapipe callers
    release it with `datapipe.release_caches`; the engine passes its lazy
    lineage cut, which the context cleaner frees."""
    spark = df.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pcols = [F.col(c) for c in part_cols]
    ocols = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(n_parts, *pcols, *ocols).withColumn(
        "_pid", F.spark_partition_id()
    )
    parted = materialize(parted.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("_pid", *pcols).orderBy(*ocols))
    ))
    offsets = (
        parted.groupBy("_pid", *pcols)
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.partitionBy(*pcols)
                    .orderBy("_pid")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("_n")
    )
    return (
        parted.join(F.broadcast(offsets), ["_pid", *part_cols])
        .withColumn(rank_col, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def select_wave(
    eligible_polite: DataFrame,
    wave_budget: int,
    seq_bucket=None,
    materialize=DataFrame.persist,
) -> DataFrame:
    """Global budget: top-`wave_budget` by (priority, seq) = strict priority
    with FIFO inside each level (the nested-select semantics of memory.go:37-64).

    Rank first (scalably, lazily), then filter — when the budget is not
    binding this is just the rank projection. The returned frame carries
    `rank`, the wave's crawl-order position (used by goldens + child seq
    assignment). Fully lazy: the wave's selected-count falls out of the
    fetch-outcome aggregate instead of a dedicated action.

    `seq_bucket`: optional pure-row bucket column, monotone in seq within
    each priority (the engine passes one derived from its seq watermarks) —
    routes through `with_inspark_rank_bucketed`, saving the range-sampling
    job and one of the two exchanges the range-partitioned rank pays.
    `materialize` cuts the rank's shared frame (see `ranked_within`)."""
    if seq_bucket is not None:
        ranked = with_inspark_rank_bucketed(
            eligible_polite, seq_bucket, "rank", materialize=materialize
        )
    else:
        ranked = ranked_within(
            eligible_polite, (), ORDER_COLS, "rank", materialize=materialize
        )
    return ranked.filter(F.col("rank") <= wave_budget)
