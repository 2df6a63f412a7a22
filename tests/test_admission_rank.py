"""Pin `frontier.ranked_within` against a single-partition window: its
range-partitioned rank (rank within each range partition + preceding
partitions' offsets) must give every row the rank `row_number()` over one
global window gives — ungrouped, as the engine's seed admission and
`select_wave`'s fallback rank, and grouped, as the datapipe ranks FIFO
within priority. The order keys are unique within each group (no ties)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawlspark import frontier
from crawlspark.datapipe import release_caches

# case → (part_cols, order_cols, the cut: the engine's lazy cut / the default)
CASES = {
    "ungrouped": ((), ("seed_order",), lambda d: d.localCheckpoint(eager=False)),
    "grouped": (("priority",), ("seq",), None),
}


def _frame(spark):
    orders = (5, 3, 11, 0, 8, 2, 9, 1, 7, 4, 10, 6, 17, 13, 15, 12, 16, 14)
    rows = [(i, i % 3, (i * 7) % 19, f"u{i % 7}") for i in orders]
    return spark.createDataFrame(
        rows, "seed_order long, priority int, seq long, payload string"
    )


@pytest.mark.parametrize("case", list(CASES))
def test_ranked_within_matches_single_partition_window(spark, case):
    part_cols, order_cols, cut = CASES[case]
    df = _frame(spark)
    kwargs = {"materialize": cut} if cut else {}
    # 18 rows over 4 range partitions: a group spans several partitions, so
    # most ranks need the preceding partitions' offsets
    ranked = frontier.ranked_within(df, part_cols, order_cols, "rank", n_parts=4, **kwargs)
    reference = df.coalesce(1).withColumn(
        "rank", F.row_number().over(Window.partitionBy(*part_cols).orderBy(*order_cols))
    )

    got = {(r["seed_order"], r["rank"]) for r in ranked.collect()}
    want = {(r["seed_order"], r["rank"]) for r in reference.collect()}
    assert got == want
    assert len(got) == df.count()
    release_caches(spark)  # the default cut persists the ranked frame
