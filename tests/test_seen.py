"""Seen-set tiers: partitioned bloom (no false negatives, low false-positive
rate) and exactness of the bloom-prefiltered seen probe vs a plain join with
the prefilter FORCED on (the engine only engages it at scale)."""

import numpy as np
from pyspark.sql import functions as F

from crawlspark import seen as SEEN


def test_bloom_no_false_negatives_and_low_fp():
    bloom = SEEN.PartitionedBloom(n_partitions=8, m_bits=1 << 16, k=5)
    rng = np.random.Generator(np.random.PCG64(7))
    keys = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    # distributed-build path needs Spark; use the same probe math directly
    for p in range(8):
        sel = np.mod(keys, 8) == p
        pos = SEEN._probe_positions(keys[sel], bloom.m_bits, bloom.k)
        bits = np.unpackbits(bloom.bitsets[p])
        bits[pos.ravel()] = 1
        bloom.bitsets[p] = np.packbits(bits)
    assert bloom.might_contain(keys).all()  # zero false negatives, always
    probe = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    fresh = probe[~np.isin(probe, keys)]
    fp = bloom.might_contain(fresh).mean()
    assert fp < 0.05, fp


def test_bloom_distributed_build_matches(spark):
    df = spark.range(0, 2000).selectExpr("xxhash64(cast(id as string)) AS url_hash")
    bloom = SEEN.PartitionedBloom(n_partitions=4, m_bits=1 << 14, k=5)
    bloom.add_from_df(df)
    hashes = np.array([r.url_hash for r in df.collect()], dtype=np.int64)
    assert bloom.might_contain(hashes).all()


def test_tiered_dedup_exact_vs_plain_anti_join(spark):
    cand = spark.range(0, 3000).selectExpr(
        "xxhash64(cast(id as string)) AS url_hash",
        "md5(cast(id as string)) AS cache_key",
        "id",
    )
    seen = spark.range(0, 3000, 3).selectExpr(
        "xxhash64(cast(id as string)) AS url_hash",
        "md5(cast(id as string)) AS cache_key",
    )
    bloom = SEEN.PartitionedBloom(n_partitions=4, m_bits=1 << 16, k=5)
    bloom.add_from_df(seen)
    # the fresh-fast branch is really taken: the bloom clears most new keys
    tagged = SEEN.prefilter_candidates(cand, bloom)
    assert tagged.filter(~F.col("maybe_seen")).count() > 1500
    tiered = SEEN.mark_seen(cand, seen, bloom)
    plain = cand.join(
        seen.select("cache_key", F.lit(True).alias("_hit")), "cache_key", "left"
    )
    got = sorted((r.id, r._seen) for r in tiered.collect())
    want = sorted((r.id, r._hit is not None) for r in plain.collect())
    assert got == want  # the bloom tier can never change the answer
    assert len(got) == 3000  # row-preserving
    assert sum(not s for _, s in got) == 2000


def test_bloom_prefilter_broadcast_envelope(spark, monkeypatch):
    # the broadcast probe switches off once the tier exceeds the
    # executor-broadcastable envelope — the exact anti-join authority is
    # unaffected, only the prefilter gates off
    from crawlspark import engine, synth

    world = synth.make_world(n_hosts=2, total_pages=20)

    def make():
        return engine.CrawlEngine(
            spark,
            pages=synth.pages_df(spark, world),
            robots=synth.robots_df(spark, world),
            budgets=synth.politeness_df(spark, world),
            config=engine.CrawlConfig(bloom_bits=1 << 16),
        )

    monkeypatch.setattr(engine, "BLOOM_PARTITIONS", 4)
    assert make()._bloom_broadcastable()  # 4 × 8 KB ≪ 256 MB default

    monkeypatch.setattr(engine, "BLOOM_BROADCAST_MAX_MB", 0)
    assert not make()._bloom_broadcastable()  # 0 MB cap → prefilter must gate off
