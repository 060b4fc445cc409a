"""kpi_stream workload: the reference's streaming KPI topology, paced.

A single generator thread writes the seeded airline-satisfaction rows as
CSV segments into a watched directory, open loop: segment k is due at
t0 + k / SEGMENTS_PER_S whatever the consumer does, written to a staging
directory and renamed in. Six KPI queries (KPI1-4, KPI6 through
`sum_flag_split`, satisfaction-by-feature through `melt_feature_means`)
run through `streaming.start_kpi_queries` into `sinks.UpsertSink`s on one
sqlite database. Grouping columns whose names hold spaces or punctuation
are renamed to SQL-safe snake case first, as the reference's MySQL tables
were.

A segment's latency runs from when it was due to when the last of the six
queries committed a micro-batch containing it. The file source admits
segments in the order they were renamed, so a query that has read r rows
has read exactly the first r / SEGMENT_ROWS segments; a batch commits at
its progress `timestamp` plus its `triggerExecution` time.
"""

from __future__ import annotations

import json
import os
import re
import sqlite3
import statistics
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from datetime import datetime

from sparkstreaming_spark.operators import aggregates, relational
from sparkstreaming_spark.sinks import upsert
from sparkstreaming_spark.sources import streaming as stream_sources
from sparkstreaming_spark.streaming import pipeline

from . import datagen
from .dbconn import Connect

# Offered load: the reference's 1000 rows/s, but cut into 200-row segments
# (the reference writes one 1000-row segment a second) so that one measured
# second holds five latency samples. Against the reference's shape this
# moved latency and trigger time by less than the seed-to-seed spread
# (METRICS.md). Per-batch cost grows with the number of files: at eight
# files a second the queries ran close to saturation, and a start-up
# backlog could outlast the window.
SEGMENT_ROWS = 200
SEGMENTS_PER_S = 5
WARMUP_S = 6  # paced segments before the measured window opens
TIMEOUT_S = 60.0  # for the first commit, and for the drain


def safe_name(col: str) -> str:
    return re.sub(r"\W+", "_", col).lower() if re.search(r"\W", col) else col


FEATURES = [safe_name(c) for c in datagen.RATING_COLS]


@dataclass
class Kpi(pipeline.StreamingAggSpec):
    """A KPI built by one of the package's aggregation operators."""

    op: object = None
    values: dict = field(default_factory=dict)  # value column -> SQL type

    def apply(self, stream_df):
        return self.op(stream_df)


def _kpis() -> list[Kpi]:
    def count(*keys):
        return lambda df: aggregates.count_by(df, *keys)

    return [
        Kpi("kpi1_gender", ["Gender"], None, op=count("Gender"),
            values={"cnt": "INTEGER"}),
        Kpi("kpi2_class_satisfaction", ["Class", "satisfaction"], None,
            op=count("Class", "satisfaction"), values={"cnt": "INTEGER"}),
        Kpi("kpi3_travel_type", ["type_of_travel"], None,
            op=count("type_of_travel"), values={"cnt": "INTEGER"}),
        Kpi("kpi4_age", ["Age"], None, op=count("Age"),
            values={"cnt": "INTEGER"}),
        Kpi("kpi6_loyalty_by_age", ["Age"], None,
            op=lambda df: aggregates.sum_flag_split(
                df, "Age", "customer_type", "Loyal Customer", "loyal",
                "disloyal"),
            values={"loyal": "INTEGER", "disloyal": "INTEGER"}),
        Kpi("kpi_satisfaction_by_feature", ["feature_name", "feature_value"],
            None,
            op=lambda df: aggregates.melt_feature_means(
                df, FEATURES, relational.flag("satisfaction", "satisfied"),
                mean_col="mean_sat"),
            values={"mean_sat": "REAL"}),
    ]


KEY_TYPES = {"Age": "INTEGER"}  # every other grouping column is TEXT


def expected(rows: list[tuple]) -> dict[str, dict]:
    """The six KPIs over `rows`, in plain Python: {table: {keys: values}}."""
    idx = {c: i for i, (c, _) in enumerate(datagen.SATISFACTION_SCHEMA)}
    g, ct, age, tt, cl, sat = (idx[c] for c in (
        "Gender", "Customer Type", "Age", "Type of Travel", "Class",
        "satisfaction"))
    out = {
        "kpi1_gender": Counter((r[g],) for r in rows),
        "kpi2_class_satisfaction": Counter((r[cl], r[sat]) for r in rows),
        "kpi3_travel_type": Counter((r[tt],) for r in rows),
        "kpi4_age": Counter((r[age],) for r in rows),
    }
    out = {k: {key: (n,) for key, n in v.items()} for k, v in out.items()}
    loyal = defaultdict(lambda: [0, 0])
    feat = defaultdict(lambda: [0, 0])
    for r in rows:
        loyal[(r[age],)][0 if r[ct] == "Loyal Customer" else 1] += 1
        for raw, safe in zip(datagen.RATING_COLS, FEATURES):
            acc = feat[(safe, str(r[idx[raw]]))]
            acc[0] += r[sat] == "satisfied"
            acc[1] += 1
    out["kpi6_loyalty_by_age"] = {k: tuple(v) for k, v in loyal.items()}
    out["kpi_satisfaction_by_feature"] = {
        k: (s / n,) for k, (s, n) in feat.items()}
    return out


def table_mismatch(got: dict, want: dict) -> str | None:
    if got.keys() != want.keys():
        return f"keys differ: {sorted(got.keys() ^ want.keys())[:5]}"
    for k, w in want.items():
        g = got[k]
        if any(not (a == b or (isinstance(b, float)
                               and abs(a - b) <= 1e-9)) for a, b in zip(g, w)):
            return f"{k}: {g} != {w}"
    return None


class Generator(threading.Thread):
    """Writes segment k at its due time `due[k]`, whatever the consumer
    does (open loop); a segment appears in the watched directory whole."""

    def __init__(self, segments: list[bytes], due: list[float], watch: str,
                 stage: str):
        super().__init__(name="segment-generator")
        self.segments, self.due = segments, due
        self.watch, self.stage = watch, stage
        self.late_ms: list[float] = []
        self.halt = threading.Event()

    def write(self, k: int) -> None:
        name = f"segment_{k:05d}.csv"
        with open(os.path.join(self.stage, name), "wb") as fh:
            fh.write(self.segments[k])
        os.rename(os.path.join(self.stage, name), os.path.join(self.watch, name))
        self.late_ms.append((time.time() - self.due[k]) * 1e3)

    def run(self) -> None:
        for k in range(len(self.late_ms), len(self.segments)):
            wait = self.due[k] - time.time()
            if wait > 0 and self.halt.wait(wait):
                return
            self.write(k)


class CountingSink:
    """Counts sink calls and errors; a failed write is not retried."""

    def __init__(self, sink: upsert.UpsertSink):
        self.sink, self.calls, self.errors = sink, 0, []

    def __call__(self, batch_df, batch_id: int) -> None:
        self.calls += 1
        try:
            self.sink(batch_df, batch_id)
        except Exception as ex:  # counted as a failed operation
            self.errors.append(f"batch {batch_id}: {type(ex).__name__}: {ex}")


def commit_times(progress: list[dict], n_segments: int) -> list[float | None]:
    """Epoch second at which each segment was committed by one query."""
    out: list[float | None] = [None] * n_segments
    seen, k = 0, 0
    for p in sorted(progress, key=lambda p: p["timestamp"]):
        seen += p["numInputRows"]
        end = (datetime.fromisoformat(p["timestamp"]).timestamp()
               + p["durationMs"].get("triggerExecution", 0) / 1e3)
        while k < n_segments and seen >= (k + 1) * SEGMENT_ROWS:
            out[k] = end
            k += 1
    return out


def _rows_read(q) -> int:
    return sum(p["numInputRows"] for p in q.recentProgress)


def _await_rows(queries, n: int, poll_s: float) -> str | None:
    """Wait until every query has committed `n` rows; None, or why not."""
    deadline = time.time() + TIMEOUT_S
    while not all(_rows_read(q) >= n for q in queries):
        dead = [q.name for q in queries if not q.isActive]
        if dead or time.time() > deadline:
            return f"{n} rows not committed; stopped queries: {dead}"
        time.sleep(poll_s)
    return None


@dataclass
class KpiRun:
    setup_stream_s: float
    window: tuple[float, float]
    latencies_s: list[float]
    commit_span_s: float
    measured_rows: int
    attempted: int
    failures: list[str]
    late_ms_max: float
    sinks: list


def run(spark, run_dir: str, seed: int, seconds: int, log_dir: str | None,
        corrupt: bool = False) -> KpiRun:
    n_warm = 1 + WARMUP_S * SEGMENTS_PER_S  # the priming segment, then warm-up
    n_seg = n_warm + seconds * SEGMENTS_PER_S
    rows = datagen.satisfaction_rows(seed, n_seg * SEGMENT_ROWS)
    segments = [datagen.segment_csv(rows[i:i + SEGMENT_ROWS])
                for i in range(0, len(rows), SEGMENT_ROWS)]
    watch, stage = os.path.join(run_dir, "watch"), os.path.join(run_dir, "stage")
    os.makedirs(watch)
    os.makedirs(stage)
    db = os.path.join(run_dir, "kpi.db")
    kpis = _kpis()
    con = sqlite3.connect(db)
    con.execute("PRAGMA journal_mode=WAL")
    sinks = []
    for k in kpis:
        sink = upsert.UpsertSink(Connect(db, log_dir), k.name, k.group_cols,
                                 list(k.values))
        cols = {c: KEY_TYPES.get(c, "TEXT") for c in k.group_cols}
        con.execute(sink.create_table_sql({**cols, **k.values}))
        sinks.append(CountingSink(sink))
    con.commit()
    con.close()

    schema = ", ".join(f"`{c}` {t}" for c, t in datagen.SATISFACTION_SCHEMA)
    stream = stream_sources.stream_csv_dir(spark, watch, schema)
    stream = stream.withColumnsRenamed({
        c: safe_name(c) for c, _ in datagen.SATISFACTION_SCHEMA
        if safe_name(c) != c})
    by_name = dict(zip((k.name for k in kpis), sinks))
    # Segment 0 primes the cold queries; the open-loop schedule starts
    # once all six have committed it, so start-up backlog is set-up time.
    due = [0.0] * n_seg
    gen = Generator(segments, due, watch, stage)
    failures: list[str] = []
    t_start = time.time()
    queries = pipeline.start_kpi_queries(
        stream, kpis, lambda spec: by_name[spec.name],
        checkpoint_base=os.path.join(run_dir, "ckpt"))
    try:
        due[0] = time.time()
        gen.write(0)
        err = _await_rows(queries, SEGMENT_ROWS, 0.05)
        setup_stream_s = time.time() - t_start
        t0 = time.time()
        due[1:] = [t0 + k / SEGMENTS_PER_S for k in range(n_seg - 1)]
        if err is None:
            gen.start()
            gen.join()
            err = _await_rows(queries, len(rows), 0.5)
        if err is not None:
            failures.append(err)
        progress = {q.name: [json.loads(p.json) for p in q.recentProgress]
                    for q in queries}
    finally:
        gen.halt.set()
        if gen.is_alive():
            gen.join()
        stoppers = [threading.Thread(target=q.stop) for q in queries]
        for t in stoppers:
            t.start()
        for t in stoppers:
            t.join()
    for q in queries:
        if q.exception() is not None:
            failures.append(f"{q.name} raised {q.exception()}")

    commits = [commit_times(p, n_seg) for p in progress.values()]
    done = [None if None in c else max(c) for c in zip(*commits)]
    missing = sum(d is None for d in done)
    if missing:
        failures.append(f"{missing} segments never committed")
    lat = [d - due for d, due in zip(done[n_warm:], gen.due[n_warm:])
           if d is not None]
    # Commit rate of the measured segments: the least-squares slope of
    # their commit times against their index, so that every segment counts
    # and no single batch boundary sets it. One segment per 1/SEGMENTS_PER_S
    # while the backlog is flat; more time per segment as it grows.
    ends = [d for d in done[n_warm:] if d is not None] or [time.time()]
    s_per_segment = (statistics.linear_regression(range(len(ends)), ends)[0]
                     if len(ends) > 1 else 0.0)
    for s in sinks:
        failures += s.errors
    want = expected(rows)
    con = sqlite3.connect(db)
    if corrupt:  # self-test: the gate must catch a tampered row
        con.execute(f"UPDATE {kpis[0].name} SET cnt = cnt + 1 WHERE rowid = 1")
    for k in kpis:
        got = {}
        for r in con.execute(
                f"SELECT {', '.join(k.group_cols + list(k.values))} "
                f"FROM {k.name}"):
            got[r[:len(k.group_cols)]] = r[len(k.group_cols):]
        msg = table_mismatch(got, want[k.name])
        if msg:
            failures.append(f"{k.name}: {msg}")
    con.close()
    return KpiRun(
        setup_stream_s=setup_stream_s,
        window=(gen.due[n_warm], ends[-1]),
        latencies_s=lat,
        commit_span_s=s_per_segment * (n_seg - n_warm),
        measured_rows=SEGMENT_ROWS * (n_seg - n_warm),
        attempted=sum(s.calls for s in sinks) + len(kpis),
        failures=failures,
        late_ms_max=max(gen.late_ms),
        sinks=sinks,
    )
