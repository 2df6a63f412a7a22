"""Pin the two-phase distributed ranks and running sum against a
single-partition window. `frontier.ranked_within`, `with_inspark_rank_bucketed`
and `datapipe.sampling.scan_cumsum` share one tail (a partition-local running
value + the preceding partitions' totals), so each must give every row what
one global window gives: `ranked_within` ungrouped, as the engine's seed
admission and `select_wave`'s fallback rank, and grouped, as the datapipe
ranks FIFO within priority; the bucketed rank as the engine's wave selection;
the running sum as sequence packing. The order keys are unique within each
group (no ties)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawlspark import frontier
from crawlspark.datapipe.sampling import scan_cumsum

# case → (part_cols, order_cols)
CASES = {
    "ungrouped": ((), ("seed_order",)),
    "grouped": (("priority",), ("seq",)),
}


def _frame(spark):
    orders = (5, 3, 11, 0, 8, 2, 9, 1, 7, 4, 10, 6, 17, 13, 15, 12, 16, 14)
    rows = [(i, i % 3, (i * 7) % 19, f"u{i % 7}") for i in orders]
    return spark.createDataFrame(
        rows, "seed_order long, priority int, seq long, payload string"
    )


def _pairs(df, col):
    return {(r["seed_order"], r[col]) for r in df.collect()}


@pytest.mark.parametrize("case", list(CASES))
def test_ranked_within_matches_single_partition_window(spark, case):
    part_cols, order_cols = CASES[case]
    df = _frame(spark)
    # 18 rows over 4 range partitions: a group spans several partitions, so
    # most ranks need the preceding partitions' offsets
    ranked = frontier.ranked_within(df, part_cols, order_cols, "rank", n_parts=4)
    reference = df.coalesce(1).withColumn(
        "rank", F.row_number().over(Window.partitionBy(*part_cols).orderBy(*order_cols))
    )

    got = _pairs(ranked, "rank")
    assert got == _pairs(reference, "rank")
    assert len(got) == df.count()


def test_bucketed_rank_matches_single_partition_window(spark):
    df = _frame(spark)
    # a clamped linear map of seq, monotone within each priority as the
    # engine's watermark bucket is; every bucket holds all three priorities,
    # so each rank needs offsets from other buckets and priorities
    bucket = F.least((F.col("seq") / 5).cast("int"), F.lit(3))
    ranked = frontier.with_inspark_rank_bucketed(df, bucket, "rank", n_parts=4)
    reference = df.coalesce(1).withColumn(
        "rank", F.row_number().over(Window.orderBy(*frontier.ORDER_COLS))
    )

    got = _pairs(ranked, "rank")
    assert got == _pairs(reference, "rank")
    assert len(got) == df.count()


def test_scan_cumsum_matches_single_partition_running_sum(spark):
    df = _frame(spark)
    cum = scan_cumsum(df, "seed_order", "seq", "cum", n_parts=4)
    reference = df.coalesce(1).withColumn(
        "cum",
        F.sum("seq").over(
            Window.orderBy("seed_order").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )

    got = _pairs(cum, "cum")
    assert got == _pairs(reference, "cum")
    assert len(got) == df.count()
