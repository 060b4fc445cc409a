"""Batch workloads: a fixed list of registry queries over generated tables.

One pass runs every query as `fn()` (plan building, including any eager
driver jobs) followed by a `noop`-format write, which materializes every
result row. Result caches are dropped after each query.

Before Spark starts, a child process generates the tables and runs each
`QuerySpec.oracle` in DuckDB over the same files (`prepare`). The first
pass is both the warm-up and the correctness gate: each result is
collected and compared with its oracle result through the suite's own
comparator (`tests/oracle_util.py`), or with its executable invariant. Its
Spark time counts as set-up; the DuckDB side of the gate is outside every
timed figure.
"""

from __future__ import annotations

import os
import pickle
import sys
import time

from tests.oracle_util import assert_frames_match

from . import datagen

# Both query lists take one query per operator family from the suite, few
# enough that a run, set-up included, stays well under a minute.

# JVM-bound: parquet scans, joins, windows, shuffles; no Python workers.
# Left out because they fail their oracle on some seeds, each for a
# program defect a later change should fix: evt_seasonal_decompose on
# every seed (a rounding half tie, suite/behavior.py);
# tpch_q2_min_cost_supplier, tpch_q7_volume_shipping,
# tpch_q9_product_profit and sql_shipping_priority round sums of double
# products, where the exact value can sit on a rounding tie that Spark and
# DuckDB break differently (for example 15616031.72 vs .71).
RELATIONAL = """
flagship_pricing_summary join_star_revenue join_semi_anti window_rank
tpch_q8_market_share tpch_q21_waiting_supplier evt_asof_orders
cdc_apply_latest
""".split()

# Driver- and Python-bound: eager Bloom and BPE-merge jobs inside fn(),
# pandas UDFs across the Arrow boundary. Left out: emb_knn_ivf and
# emb_knn_pq, whose recall checks fail on some seeds; doc_image_neardup,
# whose DuckDB oracle runs for minutes at sf0.1 (doc_blob_features stands
# in for the multimodal layer); doc_quality_classifier, whose eager
# training alone took a third of a pass.
LLM_CURATION = """
doc_minhash_pairs doc_bloom_decontam_gate doc_bpe_encode emb_knn_lsh
emb_semantic_dedup doc_blob_features
""".split()

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def prepare(data_dir: str, want_dir: str, seed: int, scale: float,
            names: list[str]) -> None:
    """Generate the tables, then run each query's DuckDB oracle over them
    and pickle its result (or the oracle's error message) to `want_dir`.

    Runs in a child process (`python3 -m perfbench.batch`), so that the
    generator's arrays and DuckDB's memory are gone before Spark starts."""
    import duckdb

    from sparkstreaming_spark.suite import all_queries

    datagen.write_tables(data_dir, seed, scale)
    registry = all_queries()
    os.makedirs(want_dir)
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": os.cpu_count()})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name in names:
        if registry[name].oracle is None:
            continue
        try:
            want = con.sql(registry[name].oracle).df()
        except Exception as ex:  # reported by the gate as a failure
            want = f"oracle raised {type(ex).__name__}: {ex}"
        with open(os.path.join(want_dir, f"{name}.pkl"), "wb") as fh:
            pickle.dump(want, fh)
    con.close()


def gate_pass(spark, registry, names, data_dir, want_dir
              ) -> tuple[float, dict, dict]:
    """Run every query once, collect it and check it against the oracle
    result `prepare` left in `want_dir`, or against its invariant.

    Returns (Spark seconds, {name: failure message}, {name: result rows})."""
    from sparkstreaming_spark.suite.invariants import INVARIANTS

    spark_s, failures, rows = 0.0, {}, {}
    for name in names:
        spec = registry[name]
        t0 = time.perf_counter()
        try:
            got = spec.fn(spark, data_dir).toPandas()
        except Exception as ex:  # a raising query is a failed operation
            failures[name] = f"raised {type(ex).__name__}: {ex}"
            continue
        finally:
            spark_s += time.perf_counter() - t0
            spark.catalog.clearCache()
        rows[name] = len(got)
        try:
            if spec.oracle is None:
                msg = INVARIANTS[name](spark, data_dir, got)
            else:
                with open(os.path.join(want_dir, f"{name}.pkl"), "rb") as fh:
                    want = pickle.load(fh)
                msg = want if isinstance(want, str) else None
                if msg is None:
                    assert_frames_match(got, want, name)
        except AssertionError as ex:  # the suite's comparator reports by assert
            msg = str(ex)
        except Exception as ex:  # a checker crash is a failure, not a skip
            msg = f"check raised {type(ex).__name__}: {ex}"
        finally:
            spark.catalog.clearCache()
        if msg is not None:
            failures[name] = msg
    return spark_s, failures, rows


def timed_pass(spark, registry, names, data_dir, tracer=None, tag=""):
    """One pass; returns ([(name, build_s, exec_s)], [failed names])."""
    sc = spark.sparkContext
    out, failed = [], []
    for name in names:
        if tracer is not None:
            tracer.query = f"{tag}:{name}"
            sc.setJobGroup(f"{tag}:{name}:build", name)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = registry[name].fn(spark, data_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            else:
                with tracer.span("suite", name):
                    df = registry[name].fn(spark, data_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{tag}:{name}:exec", name)
                with tracer.span("spark", name):
                    df.write.format("noop").mode("overwrite").save()
            out.append((name, t1 - t0, time.perf_counter() - t1))
        except Exception:  # counted; the pass goes on
            failed.append(name)
        finally:
            spark.catalog.clearCache()
    if tracer is not None:
        tracer.query = ""
        sc.setJobGroup("idle", "idle")
    return out, failed


if __name__ == "__main__":
    _data, _want, _seed, _scale, *_names = sys.argv[1:]
    prepare(_data, _want, int(_seed), float(_scale), _names)
