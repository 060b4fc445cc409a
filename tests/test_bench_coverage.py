"""bench.py times every `queries()` entry (BENCH_DETAIL.json) by
iterating the registry; these tests pin the inline CORE subset and the
timing protocol."""

import importlib.util
import os


def _load_bench():
    path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
    spec = importlib.util.spec_from_file_location("bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_core_subset_is_benched():
    from sparkstreaming_spark.suite import all_queries

    bench = _load_bench()
    assert set(bench.CORE) <= set(all_queries())


def test_adaptive_run_protocol_constants():
    """BASELINE.md's noise model rests on this protocol: sub-second rows
    (the noise-dominated ones) must be stamped from a deeper median."""
    bench = _load_bench()
    assert bench.RUNS_BASE >= 3
    assert bench.RUNS_SUBSEC >= 5
    assert bench.SUBSEC_THRESHOLD == 1.0


def test_measure_query_tops_up_subsecond_rows():
    bench = _load_bench()
    calls = []

    def fast():
        calls.append(1)
        return 0.2

    assert bench.measure_query(fast) == 0.2
    assert len(calls) == bench.RUNS_SUBSEC

    calls.clear()

    def slow():
        calls.append(1)
        return 5.0

    assert bench.measure_query(slow) == 5.0
    assert len(calls) == bench.RUNS_BASE


def test_measure_query_median_semantics():
    bench = _load_bench()
    seq = iter([3.0, 9.0, 6.0])  # median 6.0, no top-up
    assert bench.measure_query(lambda: next(seq)) == 6.0
    seq5 = iter([0.1, 0.9, 0.5, 0.3, 0.7])  # subsec -> median of 5
    assert bench.measure_query(lambda: next(seq5)) == 0.5


def test_measure_query_records_raw_runs():
    """runs_out receives every raw run so BENCH_DETAIL can expose
    within-row spread (load spike vs uniform shift)."""
    bench = _load_bench()
    vals = iter([2.0, 3.0, 4.0])
    out = []
    assert bench.measure_query(lambda: next(vals), out) == 3.0
    assert out == [2.0, 3.0, 4.0]
