#!/usr/bin/env python
"""Benchmark runner (driver contract).

Runs every registry query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
 "sf": ...}.

The printed line keeps `queries` to a fixed CORE subset so the line stays
well under the driver's stdout-tail capture (round 3's 164-query line was
truncated to `parsed: null`); the full per-query map is written to
BENCH_DETAIL.json next to this script, and the line carries `n_queries` +
`detail` so nothing is lost.

Timing = wall clock of plan construction + a count()-style action that
materializes every result row (df.write to noop sink would also work;
count() keeps it simple and still executes the full plan since aggregates/
joins can't be pruned by count).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkstreaming_spark.session import get_spark  # noqa: E402
from sparkstreaming_spark.suite import all_queries  # noqa: E402

# --- timing protocol (asserted by tests/test_bench_coverage.py) ------------
# Sub-second rows swing 2-5x between sessions on this shared container
# (BASELINE.md "bench noise model"), which made per-row 2x adjudication
# noisy: a 0.6s row is ~60% fixed scheduling/JIT jitter. Protocol: every
# row gets RUNS_BASE warm runs; if the median lands under SUBSEC_THRESHOLD
# seconds the row gets topped up to RUNS_SUBSEC runs and re-medianed, so
# the stamped number for exactly the noise-dominated rows is a median of 5.
RUNS_BASE = 3
RUNS_SUBSEC = 5
SUBSEC_THRESHOLD = 1.0


def measure_query(run_once, runs_out: list | None = None) -> float:
    """Median wall time per the adaptive protocol: median of RUNS_BASE
    runs, topped up to RUNS_SUBSEC when the first median is sub-second.

    `runs_out`, if given, receives every raw run time — BENCH_DETAIL
    records them so drift adjudication can see WITHIN-row spread (a
    shared-host load spike shows as a 3x run spread, a real code
    regression as a uniformly shifted triple)."""
    runs = []
    for _ in range(RUNS_BASE):
        runs.append(run_once())
    med = sorted(runs)[len(runs) // 2]
    if med < SUBSEC_THRESHOLD:
        while len(runs) < RUNS_SUBSEC:
            runs.append(run_once())
        med = sorted(runs)[len(runs) // 2]
    if runs_out is not None:
        runs_out.extend(round(r, 4) for r in runs)
    return med


# Fixed subset whose timings ride inline in the printed JSON line (one per
# operator family, stable across rounds so BENCH_r{N} files stay comparable).
CORE = [
    "flagship_pricing_summary",
    "join_star_revenue",
    "tpch_q9_product_profit",
    "tpch_q21_waiting_supplier",
    "top_customers",
    "window_rank",
    "rollup_counts",
    "evt_asof_orders",
    "evt_range_join",
    "evt_tumbling_window",
    "evt_session_window",
    "evt_hypertable_rollup",
    "evt_funnel",
    "evt_sessionize",
    "doc_token_stats",
    "doc_exact_dedup",
    "doc_minhash_pairs",
    "doc_dup_clusters",
    "doc_ngram_jaccard",
    "doc_quality",
    "doc_bm25_topk",
    "doc_curation_pipeline",
    "doc_decontam",
    "doc_bpe_encode",
    "doc_pii_scrub",
    "emb_knn_bruteforce",
    "emb_knn_ivf",
    "emb_knn_pq",
    "emb_near_dup_cosine",
    "emb_kmeans_profile",
    "emb_semantic_dedup",
    "cdc_apply_latest",
    "scd2_history",
    "graph_kcore",
    "evt_lift_curve",
    "evt_auc",
    "evt_skyline",
    "stream_incremental_dedup",
    "stream_chained_windows",
    "doc_dedup_eval",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Host-load honesty stamp: this container shares its host; external
    # load (invisible in local ps) has been measured inflating identical
    # HEADs 316s -> 401s. Recording 1-min load at start/end lets drift
    # adjudication distinguish "code got slower" from "host was busy".
    load_start = round(os.getloadavg()[0], 1)
    spark = get_spark("bench")
    registry = all_queries()
    # warm-up: JVM + parquet footer caches, one light query
    registry[CORE[0]].fn(spark, sf_dir).count()

    timings: dict[str, float] = {}
    raw_runs: dict[str, list] = {}
    for name in registry:

        def run_once(name: str = name) -> float:
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).count()
            elapsed = time.perf_counter() - t0
            # drop result caches between RUNS too: Spark's CacheManager
            # matches persisted frames by canonicalized logical plan, so
            # without this, runs 2+ of a query that persist()s an
            # intermediate silently reuse run 1's cached frame and the
            # "median" measures cached-result cost (doc_audio_neardup
            # read 0.74s cached vs 2.15s honest). JVM/JIT/page-cache
            # warmth is preserved — only result caches drop.
            spark.catalog.clearCache()
            return elapsed

        raw_runs[name] = []
        timings[name] = round(measure_query(run_once, raw_runs[name]), 4)

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "suite_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "host_load_1min": [load_start, round(os.getloadavg()[0], 1)],
                "host_cpus": os.cpu_count(),
                "runs": raw_runs,
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    core = {n: timings[n] for n in CORE if n in timings}
    print(
        json.dumps(
            {
                "metric": "suite_total_sec",
                "value": total,
                "unit": "sec",
                "queries": core,
                "n_queries": len(timings),
                "detail": "BENCH_DETAIL.json",
                "sf": sf_val,
                "host_load_1min": [load_start, round(os.getloadavg()[0], 1)],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
