"""Distributed Bloom-filter membership gate — the broadcast-bitmap
pattern for screening a huge stream/corpus against a reference set
(decontamination against a benchmark, incremental-crawl "have we seen
this page" gates, blocklist membership) without shuffling the probe
side at all.

One implementation, `BloomIndex`, serves the batch gate (`bloom_gate`)
and the streaming near-dup gates:

- **Positions.** k positions per key via Kirsch-Mitzenmacher double
  hashing pos_i = (h1 + i*h2) mod m over two salted md5_64 hashes — md5
  so the DuckDB oracle reproduces every bit.
- **Sizing.** One rule: m = adaptive_bits(distinct keys, floor_m), ~10
  bits per key (≈1% FPR at k=3), never below the caller's floor. A
  fixed m saturates once the key set outgrows it (the filter then
  flags nearly everything); below the floor the bitmap is
  byte-identical to a fixed-m build.
- **Build.** The key frame is persisted for its two consumers (the
  distinct count that sizes m, then the distinct-position aggregate —
  ≤ m rows, a BOUNDED collect regardless of corpus size) and
  unpersisted before `build` returns.
- **Bitmap.** The m bits fold into the probe plan as ONE array
  literal of int64 words (a numpy array becomes a single Literal node).
  A per-word `F.array` of literals is an expression tree of m/64 nodes
  per probe position, and a hex-string literal costs a substring walk
  to the word on every probe.
- **Probe.** An IN-ROW bit test (`element_at` the word, `bit_get` the
  bit) — stateless, zero shuffle and zero join on the probe side, so it
  is streaming-safe. The reference set costs one bounded aggregate +
  m/8 bytes of plan; the probe pass is embarrassingly parallel.

False positives are the designed trade: a probe key can hit k set
bits without membership (rate ≈ (1 - e^(-kn/m))^k). The suite queries
measure the realized FP count against exact membership — both sides
deterministic, so even the FPs are oracle-checked.

Reference parity: no sketch surface exists in the reference repo
(three KPI jobs); north-star extension alongside CMS/HLL
(textstats/cms.py).
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_64


def bloom_positions(col: Column, m: int, k: int, salt: str) -> list[Column]:
    """k bit positions for a key via double hashing (h1 + i*h2) mod m.
    h1, h2 < 2^60 and i < k keep the sum inside int64."""
    h1 = md5_64(F.concat(F.lit(salt + ":1:"), col))
    h2 = md5_64(F.concat(F.lit(salt + ":2:"), col))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]


def adaptive_bits(n_keys: int, floor_m: int = 16384) -> int:
    """Bloom size for `n_keys` distinct keys: ~10 bits per key (≈1% FPR
    at k=3), floored at `floor_m` and rounded up to a 32-bit word
    boundary."""
    return ((max(floor_m, 10 * n_keys) + 31) // 32) * 32


@dataclass(frozen=True)
class BloomIndex:
    """An m-bit Bloom bitmap over a key set: bit p is bit p % 64 of
    words[p // 64], a two's-complement int64 (bit 63 is the sign bit)."""

    words: tuple[int, ...]
    m: int
    k: int
    salt: str

    @classmethod
    def build(
        cls, keys_df: DataFrame, key_col: str, k: int = 3,
        salt: str = "bloom", floor_m: int = 16384,
    ) -> BloomIndex:
        """Index keys_df[key_col], sized by its distinct key count."""
        keys = keys_df.select(F.col(key_col).alias("key")).persist()
        try:
            m = adaptive_bits(keys.distinct().count(), floor_m)
            pos = keys.select(
                F.explode(
                    F.array(*bloom_positions(F.col("key"), m, k, salt))
                ).alias("p")
            ).distinct()
            words = [0] * -(-m // 64)
            for r in pos.collect():  # <= m rows by construction
                p = int(r["p"])
                words[p // 64] |= 1 << (p % 64)
        finally:
            keys.unpersist()
        return cls(tuple(w - (w >> 63 << 64) for w in words), m, k, salt)

    def probe(self, key: Column) -> Column:
        """True iff all k of the key's bit positions are set. No false
        negatives; false positives at the designed rate."""
        words = F.lit(np.array(self.words, dtype=np.int64))
        return reduce(operator.and_, [
            F.bit_get(
                F.element_at(words, (pos / 64).cast("int") + 1),
                F.pmod(pos, F.lit(64)).cast("int"),
            ) == 1
            for pos in bloom_positions(key, self.m, self.k, self.salt)
        ])


def bloom_gate(
    corpus: DataFrame,
    corpus_key: str,
    probe: DataFrame,
    probe_key: str,
    m: int = 4096,
    k: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """probe + boolean `bloom_hit` against a BloomIndex of
    corpus[corpus_key]; `m` is the floor of the adaptive size."""
    index = BloomIndex.build(corpus, corpus_key, k, salt, floor_m=m)
    return probe.withColumn("bloom_hit", index.probe(F.col(probe_key)))
