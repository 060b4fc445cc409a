"""Seeded input generators for the benchmark.

The program under test only ever sees the files written here:

- `write_tables` writes the ten suite tables (TPC-H-like star schema,
  `events`, `documents`, `embeddings`) as parquet files with the schemas
  and marginals of the suite's sf0.1 test data (FIXTURES.md §2-10).
  `scale=1.0` is sf0.1 (600k lineitem rows).
- `satisfaction_rows` draws the airline-satisfaction table of
  FIXTURES.md §1, the source schema of the reference's streaming
  Consumer; `segment_csv` renders a slice of it as one CSV segment.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.150, 0.149, 0.148, 0.141]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, size=n), 2))


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    d0, d1 = (np.datetime64(d, "D").astype(np.int64) for d in (lo, hi))
    days = rng.integers(d0, d1 + 1, size=n).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(8, 105, size=n)
    toks = [" ".join(VOCAB[rng.integers(0, len(VOCAB), size=k)]) for k in lengths]
    # near-duplicate clusters: ~6 per 1000 docs, 10 rotations of one base
    # doc each, so shingle sets differ only at the wrap-around
    members = rng.choice(n, size=(6 * n // 1000, 10), replace=False)
    for row in members:
        base = VOCAB[rng.integers(0, len(VOCAB), size=60)]
        for j, doc in enumerate(row):
            toks[int(doc)] = " ".join(np.roll(base, 7 * j))
    # exact duplicates: 8 pairs per 5000 docs
    for a, b in rng.choice(n, size=(8 * n // 5000, 2), replace=False):
        toks[int(b)] = toks[int(a)]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(toks, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in toks], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    e = rng.standard_normal((n, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    }


def _events(rng, n: int, n_users: int) -> dict:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + (rng.random(n) * 30 * 86400e6).astype(np.int64))
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(
            rng.choice(["view", "click", "purchase", "signup", "error"], size=n),
            pa.string(),
        ),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()
        ),
    }


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write the ten suite tables at `scale` x sf0.1 into `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def rows(n_at_sf01: int) -> int:
        return max(1, int(n_at_sf01 * scale))

    _write(out_dir, "documents", _documents(rng, rows(5000)))
    _write(out_dir, "embeddings", _embeddings(rng, rows(2000)))
    _write(out_dir, "events", _events(rng, rows(100_000), rows(1500)))
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part = rows(15_000), rows(1000), rows(20_000)
    n_ord, n_li = rows(150_000), rows(600_000)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            size=n_cust), pa.string()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": _money(rng, 0.0, 9999.99, n_supp),
    })
    adjs = ["large", "hot", "blue", "red", "small", "cold", "green", "dark"]
    nouns = ["ring", "bolt", "cap", "nut", "gear", "pin", "rod", "clip"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(adjs, size=n_part), " "), rng.choice(nouns, size=n_part))),
        "p_brand": pa.array(np.char.add(
            "Brand#", rng.integers(1, 26, size=n_part).astype(str))),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD", "PROMO"],
            size=n_part)),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 999.9, n_part), 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], size=n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n_li) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_li)),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })


# FIXTURES.md §1: (column, Spark type) in the reference's declared order
SATISFACTION_SCHEMA = [
    ("id", "int"), ("Gender", "string"), ("Customer Type", "string"),
    ("Age", "int"), ("Type of Travel", "string"), ("Class", "string"),
    ("Flight Distance", "int"), ("Inflight wifi service", "int"),
    ("Departure/Arrival time convenient", "int"),
    ("Ease of Online booking", "int"), ("Gate location", "int"),
    ("Food and drink", "int"), ("Online boarding", "int"),
    ("Seat comfort", "int"), ("Inflight entertainment", "int"),
    ("On-board service", "int"), ("Leg room service", "int"),
    ("Baggage handling", "int"), ("Checkin service", "int"),
    ("Inflight service", "int"), ("Cleanliness", "int"),
    ("Departure Delay in Minutes", "int"),
    ("Arrival Delay in Minutes", "double"), ("satisfaction", "string"),
]
RATING_COLS = [c for c, _ in SATISFACTION_SCHEMA[7:21]]


def _delays(rng, n: int) -> np.ndarray:
    """Zero-heavy delays in 0..1600 minutes."""
    d = np.minimum(rng.exponential(30.0, size=n).astype(np.int64), 1600)
    return np.where(rng.random(n) < 0.55, 0, d)


def satisfaction_rows(seed: int, n: int) -> list[tuple]:
    """`n` airline-satisfaction rows as tuples in SATISFACTION_SCHEMA order.
    About 0.3% of the arrival delays are None (CSV null)."""
    rng = np.random.default_rng(seed)
    pick = lambda opts: rng.choice(opts, size=n).tolist()  # noqa: E731
    cols = [
        list(range(n)),
        pick(["Male", "Female"]),
        pick(["Loyal Customer", "disloyal Customer"]),
        rng.integers(7, 86, size=n).tolist(),
        pick(["Personal Travel", "Business travel"]),
        pick(["Eco", "Eco Plus", "Business"]),
        rng.integers(30, 5001, size=n).tolist(),
        *(rng.integers(0, 6, size=n).tolist() for _ in RATING_COLS),
        _delays(rng, n).tolist(),
        [None if null else float(v) for v, null in
         zip(_delays(rng, n), rng.random(n) < 0.003)],
        pick(["satisfied", "neutral or dissatisfied"]),
    ]
    return list(zip(*cols))


def segment_csv(rows: list[tuple]) -> bytes:
    """One CSV segment with the reference's header line."""
    def cell(v) -> str:
        return "" if v is None else str(v)

    lines = [",".join(c for c, _ in SATISFACTION_SCHEMA)]
    lines += [",".join(cell(v) for v in r) for r in rows]
    return ("\n".join(lines) + "\n").encode()
