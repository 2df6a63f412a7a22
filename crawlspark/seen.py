"""URL-seen set: exact anti-join authority + a bloom probabilistic tier.

Reference analog: the response cache doubling as fetch-dedup — `Cacher`
(services.go:37-41) keyed by md5(method:fullURL[+body]) (job.go:117-130).
The engine keeps that exact key (cache_key) as the dedup authority and puts
the north-rule bloom tier, keyed by xxhash64(url_canon), in front of it:

  tier 1 — partitioned Bloom filters (immutable, historical): one bitset per
           pmod(url_hash, P) range, built distributed via applyInPandas,
           OR-merged across waves. At 10^10 keys the per-partition bitsets
           stay bounded (P scales with the frontier) and membership probes
           broadcast only the bitsets, never the keys.
  tier 2 — exact left join on cache_key: the authority. The bloom only cuts
           the join's left side (a candidate it flags definitely-new skips
           the shuffle entirely); it can never change the answer.

The seen set is append-only (the reference's cache keys never expire), and a
wave that aborts before its manifest commit is invisible to resume, which
reads only committed seen waves and rebuilds the bloom from them — so no tier
needs deletion.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_GOLD = np.uint64(0x9E3779B97F4A7C15)


def _probe_positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """k independently-mixed probe positions per key (k × n matrix).

    splitmix64 finalizer per probe index — naive double hashing (h1 + i*h2)
    degenerates into arithmetic progressions mod m and measurably inflates
    the false-positive rate (observed 7.6% where theory says ~1e-6)."""
    h = hashes.astype(np.uint64)
    idx = np.arange(1, k + 1, dtype=np.uint64).reshape(-1, 1)
    x = h + idx * _GOLD
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    return (x % np.uint64(m_bits)).astype(np.int64)


class PartitionedBloom:
    """P independent bloom bitsets, partition = pmod(url_hash, P)."""

    def __init__(self, n_partitions: int = 16, m_bits: int = 1 << 20, k: int = 5):
        self.n_partitions = n_partitions
        self.m_bits = m_bits
        self.k = k
        self.bitsets = {p: np.zeros(m_bits // 8, dtype=np.uint8) for p in range(n_partitions)}
        self._cat: np.ndarray | None = None  # concatenated packed bitsets (probe cache)

    def delta_agg_df(self, df: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """LAZY distributed bitset build: per-partition bitsets computed by
        applyInPandas (each group sees only its hash range), returned as a
        ≤P-row (p, bitset) frame. The engine unions this into the wave's
        single fused action (round 5), so tier maintenance rides the job the
        wave already pays instead of a dedicated 1-3 s driver round-trip per
        wave; merge the collected rows with `merge_rows`."""
        P, m, k = self.n_partitions, self.m_bits, self.k

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            bits = np.zeros(m, dtype=bool)
            pos = _probe_positions(pdf["h"].to_numpy(np.int64), m, k)
            bits[pos.ravel()] = True
            pid = int(pdf["p"].iloc[0])
            return pd.DataFrame({"p": [pid], "bitset": [np.packbits(bits).tobytes()]})

        return (
            df.select(F.col(hash_col).alias("h"))
            .withColumn("p", F.pmod(F.col("h"), F.lit(P)).cast("int"))
            .groupBy("p")
            .applyInPandas(build, schema="p int, bitset binary")
        )

    def merge_rows(self, rows) -> None:
        """OR collected (p, bitset) rows — from delta_agg_df — into the tier."""
        for r in rows:
            self.bitsets[r["p"]] = self.bitsets[r["p"]] | np.frombuffer(
                r["bitset"], dtype=np.uint8
            )
        self._cat = None

    def add_from_df(self, df: DataFrame, hash_col: str = "url_hash") -> None:
        """Eager build: delta_agg_df + collect + merge (the one-time full
        catch-up sync; per-wave deltas ride the fused action instead)."""
        self.merge_rows(self.delta_agg_df(df, hash_col).collect())

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership for a numpy batch of int64 hashes.

        Probes the PACKED bitsets directly — k gather loads of one byte per
        key from a cached concatenation of all P bitsets. The previous
        implementation np.unpackbits'ed each partition's full bitset per
        call: at 2 MB/partition × 16 partitions × one call per 256-row Arrow
        batch that was ~1 MB of DRAM writes PER ROW (measured 94.6 s per 1M
        probes; this path: 1.9 s, bit-identical — see BENCH/BASELINE.md §2n).
        O(k) bytes touched per key, independent of m_bits and batch size."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        if self._cat is None:
            self._cat = np.concatenate(
                [self.bitsets[p] for p in range(self.n_partitions)]
            )
        # np.mod with a positive divisor is already non-negative for negative
        # dividends (round-6 advice: the old sign fixup and the preallocated
        # result buffer were dead)
        pids = np.mod(hashes.astype(np.int64), self.n_partitions)
        pos = _probe_positions(hashes, self.m_bits, self.k)  # k × n
        base = pids * (self.m_bits // 8)  # byte offset of each key's bitset
        byte = self._cat[base + (pos >> 3)]
        # packbits is MSB-first: bool index b lands in byte b>>3 at bit 7-(b&7)
        bit = (byte >> (7 - (pos & 7)).astype(np.uint8)) & 1
        return bit.all(axis=0).astype(bool)

    def state_bytes(self) -> dict[int, bytes]:
        return {p: b.tobytes() for p, b in self.bitsets.items()}

    @classmethod
    def from_state(cls, state: dict[int, bytes], m_bits: int, k: int):
        o = cls(n_partitions=len(state), m_bits=m_bits, k=k)
        for p, b in state.items():
            o.bitsets[int(p)] = np.frombuffer(b, dtype=np.uint8).copy()
        return o


def prefilter_candidates(
    candidates: DataFrame,
    bloom: PartitionedBloom,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Tag candidates with `maybe_seen`; False ⇒ definitely new (skip the
    exact anti-join). The bloom state ships to executors as a broadcast
    inside a mapInPandas closure — bitsets only, never the key set."""
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast((bloom.state_bytes(), bloom.m_bits, bloom.k))
    # StructType.add mutates in place — build a fresh copy for the output
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
    )
    names = [f.name for f in candidates.schema.fields]
    hpos = names.index(hash_col)

    def check(batches):
        bl = PartitionedBloom.from_state(*bc.value)
        for pdf in batches:
            h = pdf.iloc[:, hpos].to_numpy(np.int64)
            yield pdf.assign(maybe_seen=bl.might_contain(h))

    return candidates.mapInPandas(check, schema=out_schema)


def mark_seen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: PartitionedBloom | None = None,
    key: str = "cache_key",
) -> DataFrame:
    """Row-preserving seen probe: adds a `_seen` boolean instead of dropping
    rows, so the caller can count candidates/fresh/admitted in ONE aggregate
    action (an anti-join forces a separate count per subset).

    `seen` holds unique keys by construction — every wave's delta excludes
    prior keys and is first-occurrence-deduped within the wave — so the left
    join is row-preserving. With a bloom tier, a candidate it flags
    definitely-new skips the exact join's shuffle entirely; the join stays
    the authority either way.
    """
    probe = seen.select(key).withColumn("_in_seen", F.lit(True))
    if bloom is None:
        joined = candidates.join(probe, key, "left")
        return joined.withColumn(
            "_seen", F.coalesce(F.col("_in_seen"), F.lit(False))
        ).drop("_in_seen")
    tagged = prefilter_candidates(candidates, bloom)
    fresh_fast = (
        tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
        .withColumn("_seen", F.lit(False))
    )
    suspects = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    checked = (
        suspects.join(probe, key, "left")
        .withColumn("_seen", F.coalesce(F.col("_in_seen"), F.lit(False)))
        .drop("_in_seen")
    )
    return fresh_fast.unionByName(checked)
