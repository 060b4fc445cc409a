"""Bloom membership gate (dedup/bloom.py): no false negatives, bounded
false positives, bitmap/semantics invariants."""

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from sparkstreaming_spark.dedup.bloom import BloomIndex, bloom_gate


def _df(spark, vals, col="key"):
    return spark.createDataFrame(pd.DataFrame({col: vals}))


def test_no_false_negatives(spark):
    corpus_vals = [f"member-{i}" for i in range(200)]
    corpus = _df(spark, corpus_vals)
    out = bloom_gate(corpus, "key", _df(spark, corpus_vals), "key").collect()
    assert all(r["bloom_hit"] for r in out)


def test_false_positive_rate_is_bounded(spark):
    corpus = _df(spark, [f"member-{i}" for i in range(200)])
    probe = _df(spark, [f"outsider-{i}" for i in range(2000)])
    out = bloom_gate(corpus, "key", probe, "key", m=4096, k=3).collect()
    fp = sum(1 for r in out if r["bloom_hit"])
    # design rate ~ (1 - e^(-3*200/4096))^3 ~ 0.25%; allow 10x headroom
    assert fp <= 50, fp


def test_bitmap_is_bounded_and_deterministic(spark):
    corpus = _df(spark, [f"member-{i}" for i in range(400)])
    i1 = BloomIndex.build(corpus, "key", k=3, floor_m=4096)
    i2 = BloomIndex.build(corpus, "key", k=3, floor_m=4096)
    assert i1 == i2
    assert i1.m == 4096 and len(i1.words) == 4096 // 64
    assert all(-(1 << 63) <= w < (1 << 63) for w in i1.words)
    # different salt -> different bitmap
    i3 = BloomIndex.build(corpus, "key", k=3, salt="other", floor_m=4096)
    assert i3.words != i1.words


def _py_positions(key: str, m: int, k: int, salt: str) -> list[int]:
    def md5_64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    h1, h2 = md5_64(f"{salt}:1:{key}"), md5_64(f"{salt}:2:{key}")
    return [(h1 + i * h2) % m for i in range(k)]


def test_probe_matches_python_bit_test_at_adaptive_m(spark):
    """1639 distinct keys size m to 16416 (not a power of two, so the
    last int64 word is half used); every probe answer must equal a
    pure-Python Bloom over the same hashes, including members whose
    position is bit 63 of a word (its sign bit) or bit 31."""
    members = [f"member-{i}" for i in range(1639)]
    index = BloomIndex.build(_df(spark, members), "key", k=3, salt="t")
    assert index.m == 16416
    bits = {p for key in members for p in _py_positions(key, index.m, 3, "t")}
    probe = members[:300] + [f"outsider-{i}" for i in range(3000)]
    got = {
        r["key"]: r["hit"]
        for r in _df(spark, probe)
        .select("key", index.probe(F.col("key")).alias("hit"))
        .collect()
    }
    want = {
        key: all(p in bits for p in _py_positions(key, index.m, 3, "t"))
        for key in probe
    }
    assert got == want
    probed_bits = {
        p % 64 for key in members[:300]
        for p in _py_positions(key, index.m, 3, "t")
    }
    assert {31, 63} <= probed_bits
    assert any(want[f"outsider-{i}"] for i in range(3000))  # realized FPs


def test_adaptive_bits_floor_and_growth():
    from sparkstreaming_spark.dedup.bloom import adaptive_bits

    # small corpora stay at the floor (oracle-stable)
    assert adaptive_bits(0) == 16384
    assert adaptive_bits(1600) == 16384
    # past the floor: ~10 bits/key, 32-bit word aligned
    assert adaptive_bits(1639) == 16416  # 16390 -> next multiple of 32
    m = adaptive_bits(130_000)
    assert m >= 1_300_000 and m % 32 == 0
    # custom floor honored
    assert adaptive_bits(10, floor_m=4096) == 4096
