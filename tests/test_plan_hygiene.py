"""Suite-wide physical-plan invariants: build the executed plan of every
batch query in the registry at smoke scale and assert the two red flags
that silently kill 100 TB runs never appear:

- CartesianProduct (an unconstrained cross join — every intentional
  scalar/tiny cross join in the suite broadcasts, which compiles to
  BroadcastNestedLoopJoin instead);
- BatchEvalPython / row-at-a-time PythonUDF in a non-Arrow node (the
  engine-wide rule is Arrow-vectorized Python only: ArrowEvalPython,
  ArrowEvalPythonUDTF, mapInPandas / FlatMapGroupsInPandas, mapInArrow);
- an unpartitioned Window whose input is a raw fact scan: an empty
  partition spec compiles to a SINGLE-task WindowExec, so every fact row
  funnels through one reducer — fine over an aggregate/limit-bounded
  input (rollup-sized), a silent scale-killer over a scan. The check
  walks the optimized logical plan: every `Window` node with an empty
  partitionSpec must have only bounded inputs (an Aggregate, Limit,
  LocalRelation, or Range somewhere below on every branch). Documented
  exceptions (reference-fidelity global ordering) are allowlisted.

Streaming queries are excluded: their fn() drains a real stream, which
is exercised (and oracle-checked) elsewhere.
"""

from __future__ import annotations

import pytest

from sparkstreaming_spark.suite import all_queries
from tests.conftest import SF_DIR_SMOKE

REGISTRY = all_queries()
BATCH = sorted(n for n in REGISTRY if not n.startswith("stream_"))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Unpartitioned-window allowlist: queries whose global total order is the
# documented POINT of the operator (reference-fidelity segment numbering),
# with the scale alternative named in their docstrings.
GLOBAL_WINDOW_OK = {
    "src_custom_datasource",  # with_segments reference fidelity (Producer.scala:31-40)
}


def _bounded_below(node) -> bool:
    """True if every path from `node` down to a leaf passes through a
    cardinality-bounding operator (Aggregate / Limit / local rows)."""
    name = node.getClass().getSimpleName()
    if name in (
        "Aggregate",
        "GlobalLimit",
        "LocalLimit",
        "LocalRelation",
        "OneRowRelation",
        "Range",
    ):
        return True
    ch = node.children()
    if ch.size() == 0:
        return False
    return all(_bounded_below(ch.apply(i)) for i in range(ch.size()))


def _raw_global_windows(df) -> list[str]:
    out: list[str] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        ch = node.children()
        if name == "Window" and node.partitionSpec().isEmpty():
            if not all(_bounded_below(ch.apply(i)) for i in range(ch.size())):
                out.append(node.simpleString(120))
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


@pytest.mark.parametrize("name", BATCH)
def test_no_cartesian_and_no_row_python(spark, name):
    df = REGISTRY[name].fn(spark, SF_DIR_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, f"{name}: {plan[:1500]}"
    assert "BatchEvalPython" not in plan, f"{name}: {plan[:1500]}"
    if name not in GLOBAL_WINDOW_OK:
        offenders = _raw_global_windows(df)
        assert not offenders, (
            f"{name}: unpartitioned Window over a raw fact scan "
            f"(single-task sort at scale): {offenders}"
        )


# BloomIndex.build persists its key frame for the (distinct count,
# position aggregate) double consumption and MUST unpersist before
# returning — a leaked cache accumulates across queries in a multi-query
# session. Run each Bloom gate end-to-end at smoke scale and assert no
# NEW persistent RDDs remain.
@pytest.mark.parametrize(
    "name",
    [
        "doc_bloom_decontam_gate",
        "stream_neardup_gate",
        "stream_image_gate",
        "stream_audio_gate",
    ],
)
def test_bloom_gates_leave_no_cached_frames(spark, name):
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    REGISTRY[name].fn(spark, SF_DIR_SMOKE).collect()
    after = jsc.getPersistentRDDs().size()
    assert after <= before, (
        f"{name} leaked {after - before} persisted frame(s) — "
        "missing unpersist() in BloomIndex.build"
    )
