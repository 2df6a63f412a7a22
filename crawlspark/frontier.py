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
from crawlspark.session import cut_lazy

ORDER_COLS = ("priority", "seq")


def normalize_priority(col):
    """memory.go:78-87: unknown priority routes to the high channel (0)."""
    return F.when(col.isin(*C.KNOWN_PRIORITIES), col).otherwise(
        F.lit(C.PRIORITY_HIGH)
    ).cast("int")


def _add_prefix_offsets(
    parted: DataFrame,
    group_cols,
    lead_cols,
    order_cols,
    out_col: str,
    value_col: str | None = None,
) -> DataFrame:
    """The shared tail of the two-phase distributed ranks and running sums.
    `parted` carries `_pid`, its physical partition (or bucket). Within
    each (`_pid`, `group_cols`, `lead_cols`) run, ordered by `order_cols`,
    compute a local running value — the running count (a rank) without
    `value_col`, else the running sum of `value_col` — then add the totals of
    every run that precedes it in (`lead_cols`, `_pid`) order within its
    `group_cols` group. Those offsets come from a per-run total aggregate
    (≤ partitions × groups rows, so the prefix window is trivial), broadcast-
    joined back — all lazy, no driver action.

    The local frame is a lineage cut (`session.cut_lazy`): it is shared by
    the offsets aggregate and the main join, and without a cut the whole
    upstream runs twice. Not .persist(): the self-join makes the analyzer
    rewrite the offsets side's attribute ids, after which the cache manager
    no longer matches the persisted plan on that side and the offsets
    subplan recomputes the upstream from scratch (observed on the live wave
    plan). An RDD leaf survives the rewrite — renamed attributes still bind
    to the same checkpointed RDD."""
    keys = [*group_cols, *lead_cols]
    local = Window.partitionBy("_pid", *keys).orderBy(*order_cols)
    if value_col is None:
        running, total = F.row_number().over(local), F.count("*")
    else:
        running = F.sum(value_col).over(
            local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        total = F.sum(value_col)
    parted = cut_lazy(parted.withColumn("_local", running))
    preceding = (
        Window.partitionBy(*group_cols)
        .orderBy(*lead_cols, "_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        parted.groupBy("_pid", *keys)
        .agg(total.alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(preceding), F.lit(0)))
        .drop("_n")
    )
    return (
        parted.join(F.broadcast(offsets), ["_pid", *keys])
        .withColumn(out_col, (F.col("_local") + F.col("_off")).cast("long"))
        .drop("_pid", "_local", "_off")
    )


def with_inspark_rank_bucketed(
    df: DataFrame,
    bucket_col,
    rank_col: str = "rank",
    n_parts: int | None = None,
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

      local    = row_number within (_pid, priority) ordered by seq
      offsets  = per-(_pid, priority) counts, prefix-summed in
                 (priority, _pid) order — correct because bucket monotonicity
                 in seq within a priority means every row of (p, b) sorts
                 before every row of (p, b+1), and priority-major order
                 handles the rest. The aggregate is ≤ 3·n_parts rows, so the
                 single-partition prefix window is driver-trivial.
      rank     = local + offset, broadcast-joined back.

    One exchange total; the window, the count aggregate, and the join all
    ride it. Deterministic under stage retry (the bucket is a row function;
    re-sampled range bounds are not). Balance comes from the caller's bucket
    map, not from sampling — the engine's seq-space map is near-uniform for
    a FIFO-draining frontier and degrades only by crowding stragglers into
    bucket 0 (clamped), never by breaking order.
    """
    if n_parts is None:
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parted = df.withColumn("_pid", bucket_col).repartition(n_parts, "_pid")
    return _add_prefix_offsets(parted, (), ("priority",), ("seq",), rank_col)


def ranked_within(
    df: DataFrame,
    part_cols,
    order_cols,
    rank_col: str = "rank",
    n_parts: int | None = None,
) -> DataFrame:
    """row_number() within `part_cols` WITHOUT funnelling each group through
    one task. A plain Window.partitionBy(priority) with 3 priority values is
    three single-task sorts of N/3 rows — at 100× one executor sorts 10^9
    rows. Here: range-partition on (part_cols, order_cols), rank within
    (physical partition, group), then add per-(partition, group) offsets
    computed from a tiny count aggregate — all lazy, no driver action.
    Empty `part_cols` gives the global rank by `order_cols`."""
    if n_parts is None:
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parted = df.repartitionByRange(
        n_parts, *[F.col(c) for c in (*part_cols, *order_cols)]
    ).withColumn("_pid", F.spark_partition_id())
    return _add_prefix_offsets(parted, part_cols, (), order_cols, rank_col)


def select_wave(
    eligible_polite: DataFrame,
    wave_budget: int,
    seq_bucket=None,
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
    job and one of the two exchanges the range-partitioned rank pays."""
    if seq_bucket is not None:
        ranked = with_inspark_rank_bucketed(eligible_polite, seq_bucket, "rank")
    else:
        ranked = ranked_within(eligible_polite, (), ORDER_COLS, "rank")
    return ranked.filter(F.col("rank") <= wave_budget)
