"""Deterministic sampling / domain-mixing operators for corpus curation.

Pretraining pipelines need REPRODUCIBLE sampling: `df.sample()` depends on
partitioning and seed plumbing, so these operators derive keep/drop from a
content hash instead — the same row is kept on any cluster, any partition
layout, any run. All pure Catalyst; one narrow shuffle only where a
per-group rank is genuinely required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark.datapipe.text import hash60
from crawlspark.frontier import _add_prefix_offsets
from crawlspark.session import cut_lazy


def stratified_sample(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    rates: dict[str, int] | None = None,
    default_pct: int = 10,
    salt: str = "s1",
) -> DataFrame:
    """Keep each row iff hash60(salt|id) % 100 < pct(stratum) — per-stratum
    percentage sampling with zero shuffle (the decision is a row-local
    expression; rates ship as a CASE chain, i.e. broadcast-free broadcast).
    Deterministic across runs/partitionings; change `salt` to resample."""
    pct = F.lit(default_pct)
    for stratum, p in (rates or {}).items():
        pct = F.when(F.col(strata_col) == stratum, F.lit(p)).otherwise(pct)
    bucket = F.pmod(hash60(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))), F.lit(100))
    return df.withColumn("_bucket", bucket).filter(F.col("_bucket") < pct).drop("_bucket")


def scan_cumsum(
    df: DataFrame, order_col: str, value_col: str, cum_col: str = "cum",
    n_parts: int | None = None,
) -> DataFrame:
    """Inclusive running sum of `value_col` in global `order_col` order,
    WITHOUT a global-order window (which funnels the corpus through one
    task): repartitionByRange on the order key → per-partition running sum →
    + broadcast partition-offset join. The tail is frontier.ranked_within's,
    summing `value_col` where the rank counts rows; one range shuffle, fully
    lazy."""
    if n_parts is None:
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parted = df.repartitionByRange(n_parts, F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    return _add_prefix_offsets(parted, (), (), (order_col,), cum_col, value_col)


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Greedy sequential sequence packing: documents in deterministic id
    order are concatenated into bins of ≈`budget` tokens — bin k holds the
    docs whose token span starts inside [k·budget, (k+1)·budget). This is
    the streaming-concat packing used to build fixed-length pretraining
    examples; a doc longer than the budget claims its bins alone.

    Returns (doc_id, n_tokens, bin). Cost: one range shuffle (the
    distributed cumsum); bin assignment is a row-local expression.
    `n_tokens_col` (round 6): callers with a precomputed token count (e.g.
    curation_pipeline's tokenized keepers) pass it to skip re-tokenizing."""
    from crawlspark.datapipe.text import token_count

    sized = df.select(
        F.col(id_col).alias("doc_id"),
        (
            F.col(n_tokens_col) if n_tokens_col else token_count(F.col(text_col))
        ).alias("n_tokens"),
    )
    cum = scan_cumsum(sized, "doc_id", "n_tokens", "cum")
    return cum.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / budget).cast("long").alias("bin"),
    )


def curation_pipeline(
    df: DataFrame,
    budget: int = 512,
    sample_pct: int = 60,
    salt: str = "c1",
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """The full corpus-curation flow as ONE composable plan: exact dedup
    (keep lowest-id per normalized-content fingerprint) → Gopher repetition
    gate → deterministic hash sampling → greedy sequence packing. Returns
    (doc_id, n_tokens, bin) for the surviving documents.

    Every stage is the already-tested operator; composing them stays one
    lazy plan end-to-end (dedup aggregate + repetition agg + row-local
    sample filter + the two-phase cumsum) rather than four materialized
    passes: only the two fan-out frames below are lineage cuts, compiled
    when the pipeline is built and computed by the caller's action.
    """
    from crawlspark.datapipe.text import content_fingerprint, repetition_features

    # cut the fan-out points (session.cut_lazy): `keepers` feeds BOTH the
    # repetition gate and the survivors join (and `repetition_features`
    # itself branches its input into array-metric and bigram-count
    # subplans), so without a cut the dedup + tokenization re-execute per
    # consumer — measured 28 s vs 7 s at sf0.1. At 100 TB these are the
    # frames you'd checkpoint between pipeline stages anyway.
    #
    # Round 6: keeper selection is a NARROW aggregate + id join instead of
    # a per-fingerprint row_number window — the window shuffled every surviving
    # document's full text by fingerprint; here only (fingerprint, id) pairs
    # shuffle (with map-side partial min), and the id join attaches text
    # without re-keying it by fingerprint (guide §8: decide with small rows,
    # move the heavy column once). min(id) per fingerprint == the window's
    # rn=1 keeper, so the surviving set is identical.
    keeper_ids = (
        df.select(
            F.col(id_col), content_fingerprint(F.col(text_col)).alias("_fp")
        )
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    # tokenize the survivors ONCE at the cut fan-out point and drop the
    # raw text: the repetition gate's two branches and the packer's token
    # count all read `_toks` instead of re-running split+filter per consumer
    # (round 6 — tokenization was the pipeline's most repeated computation,
    # measured ~3 s of the ~10 s total at sf1.0; the cut frame also
    # shrinks, since the token array replaces text + unused columns).
    from crawlspark.datapipe.text import tokens

    keepers = cut_lazy(
        df.join(keeper_ids, id_col)
        .select(id_col, strata_col, tokens(F.col(text_col)).alias("_toks"))
    )
    rep = repetition_features(keepers, text_col, id_col, toks_col="_toks").filter(
        F.col("keep")
    )
    kept = keepers.join(rep.select(F.col("doc_id").alias(id_col)), id_col)
    sampled = cut_lazy(stratified_sample(
        kept, strata_col=strata_col, id_col=id_col,
        default_pct=sample_pct, salt=salt,
    ))
    return pack_sequences(
        sampled.withColumn("_ntok", F.size("_toks")),
        budget=budget, id_col=id_col, n_tokens_col="_ntok",
    )


def domain_mix_cap(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 100,
    salt: str = "m1",
) -> DataFrame:
    """At most `cap` rows per stratum, chosen by deterministic hash order
    (a reproducible uniform draw, not head-of-file order). One shuffle on
    the stratum key; per-stratum partitions are bounded by the cap after
    the rank filter, and a skewed stratum only costs its own sort — for
    hot-domain skew at 10^10 rows, pre-filter with stratified_sample to an
    overdraw (e.g. 4× cap/total) first, then rank the survivors."""
    h = hash60(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
