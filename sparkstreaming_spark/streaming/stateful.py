"""Custom stateful streaming operator via applyInPandasWithState —
the escape hatch for semantics neither built-in aggregates nor
session_window express (north-star requirement; reference has nothing
comparable — its state is implicit in unwindowed aggregates, T3).

`running_distinct_count`: per key, maintains the exact set of seen
values in GroupState and emits (key, n_distinct, n_events) per
micro-batch — i.e. a streaming COUNT(DISTINCT) with update semantics,
which Spark's built-in streaming aggregation refuses (distinct aggs are
unsupported on streams).

Scale notes: state is per-key and grows with the distinct-value count —
the same state-size discipline as any stateful op applies (key-scoped
TTL/timeout below, RocksDB state store at scale). Arrow batches keep the
Python boundary vectorized.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "key string, n_distinct bigint, n_events bigint"
STATE_SCHEMA = "seen array<string>, n_events bigint"


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        (seen_list, n_events) = state.get
        seen = set(seen_list)
    else:
        seen, n_events = set(), 0
    for pdf in pdfs:
        n_events += len(pdf)
        seen.update(pdf["value"].astype(str).tolist())
    state.update((sorted(seen), n_events))
    yield pd.DataFrame(
        {"key": [key[0]], "n_distinct": [len(seen)], "n_events": [n_events]}
    )


def running_distinct_count(
    stream_df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Streaming exact distinct-count per key (update mode)."""
    from pyspark.sql import functions as F

    narrowed = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("string").alias("value"),
    )
    return narrowed.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TOPN_STATE = "vals array<double>"
TOPN_OUT = "key string, rk int, value double"


def streaming_topn_values(
    stream_df: DataFrame, key_col: str, value_col: str, n: int = 5
) -> DataFrame:
    """Per-key running top-N values via applyInPandasWithState — a
    streaming op the built-in aggregates refuse (no collect-top-k on
    streams; a windowed rank needs the whole partition).

    State per key is EXACTLY the current top-N array (bounded, unlike a
    naive collect_list). Output (update mode): one row per (key, rank)
    each micro-batch the key appears in. Order-insensitive, so
    availableNow over a bounded input reproduces the batch per-key
    top-N exactly."""
    from pyspark.sql import functions as F

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cur = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            cur.extend(pdf["value"].tolist())
        cur = sorted(cur, reverse=True)[:n]
        state.update((cur,))
        yield pd.DataFrame(
            {"key": [key[0]] * len(cur), "rk": range(1, len(cur) + 1), "value": cur}
        )

    narrowed = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    return narrowed.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=TOPN_OUT,
        stateStructType=TOPN_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT = (
    "key string, session_start timestamp, session_end timestamp, "
    "n_events bigint, closed_by string"
)
SESSION_STATE = "start_us bigint, last_us bigint, n_events bigint"


def capped_sessionize(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_sec: int = 300,
    max_len_sec: int = 3600,
) -> DataFrame:
    """Sessionization with a MAX-DURATION cap: a session closes on a
    `gap_sec` quiet period (what `session_window` gives) OR when it has
    run `max_len_sec` since its start (what session_window CANNOT
    express — its windows merge unboundedly under steady traffic, the
    classic bot/ingest-loop pathology where one session grows forever).

    Emitted rows are CLOSED sessions only (append semantics);
    `closed_by` says which rule ended each ('gap' or 'cap'). State per
    key is three scalars — bounded regardless of traffic. Event-time
    ordering within a micro-batch is handled by sorting the Arrow batch;
    cross-batch disorder follows the same contract as session_window
    (upstream watermark).
    """
    from pyspark.sql import functions as F

    gap_us = gap_sec * 1_000_000
    cap_us = max_len_sec * 1_000_000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            start_us, last_us, n_events = state.get
        else:
            start_us = last_us = None
            n_events = 0
        closed: list[tuple[int, int, int, str]] = []
        for pdf in pdfs:
            for t in sorted(int(v) for v in pdf["ts_us"]):
                if start_us is None:
                    start_us, last_us, n_events = t, t, 1
                    continue
                if t - last_us > gap_us:
                    closed.append((start_us, last_us, n_events, "gap"))
                    start_us, last_us, n_events = t, t, 1
                elif t - start_us >= cap_us:
                    closed.append((start_us, last_us, n_events, "cap"))
                    start_us, last_us, n_events = t, t, 1
                else:
                    last_us = t
                    n_events += 1
        state.update((start_us, last_us, n_events))
        if closed:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(closed),
                    "session_start": [pd.Timestamp(c[0], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "n_events": [c[2] for c in closed],
                    "closed_by": [c[3] for c in closed],
                }
            )

    narrowed = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
    )
    return narrowed.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


WELFORD_STATE = "n long, mean double, m2 double"
WELFORD_OUT = "key string, n long, mean double, variance double"


def running_stats(stream_df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key ONLINE mean/variance over an unbounded stream via
    Welford's algorithm in applyInPandasWithState — O(1) state per key
    (n, mean, M2), numerically stable where a naive sum-of-squares
    cancels catastrophically. Each micro-batch folds its values into the
    state with the vectorized pairwise-merge form (batch stats computed
    in NumPy, merged once), so Python cost is per-batch, not per-row.
    Update mode: one row per touched key per batch."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            n, mean, m2 = state.get
        else:
            n, mean, m2 = 0, 0.0, 0.0
        for pdf in pdf_iter:
            v = pdf["value"].to_numpy(dtype="float64")
            bn = len(v)
            if bn == 0:
                continue
            bmean = float(v.mean())
            bm2 = float(((v - bmean) ** 2).sum())
            # Chan/Welford pairwise merge of (n, mean, m2) with the batch
            delta = bmean - mean
            tot = n + bn
            mean = mean + delta * bn / tot
            m2 = m2 + bm2 + delta * delta * n * bn / tot
            n = tot
        state.update((n, mean, m2))
        var = m2 / (n - 1) if n > 1 else 0.0
        yield pd.DataFrame(
            [{"key": key[0], "n": n, "mean": mean, "variance": var}]
        )

    narrowed = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    return narrowed.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=WELFORD_OUT,
        stateStructType=WELFORD_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


QUOTA_STATE = "days array<string>, counts array<long>"
QUOTA_OUT = "user_id long, day string, event_id long, admitted boolean"


def quota_gate(
    stream_df: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    quota: int,
    retention_days: int = 7,
) -> DataFrame:
    """Per-(user, day) admission quota over an unbounded stream — the
    rate-limiting/backpressure gate an ingestion edge enforces (at most
    `quota` events per user per day pass; the rest are tagged rejected
    so the caller can dead-letter or sample them). The state key is the
    USER, holding a small day→count map — not (user × day): keying by
    the cross product multiplies the state-store key count and, worse,
    shreds each micro-batch into near-singleton pandas groups whose
    per-group Arrow overhead dominates (measured ~2x the whole query at
    10x scale). Per-user state stays bounded because update() itself
    prunes the day map to the newest `retention_days` DISTINCT days
    after each batch. (GroupState TTL cannot do this — it expires WHOLE
    keys, so an active user's map would otherwise grow one entry per
    day for the stream's lifetime.) The prune is count-bounded rather
    than a date window off the newest day seen, so a single event with
    a skewed or forged far-future timestamp cannot evict the user's
    live counters and reset their quota — it occupies one slot until
    retention_days genuinely newer days displace the rest. Pruned days
    that recur later restart at 0 — acceptable by contract, since a
    quota window that matters is far inside the retention horizon.
    Ingestion edges should still reject event times implausibly ahead
    of processing time upstream of this gate.

    Events within a micro-batch are admitted in (ts, id) order: ALL
    Arrow chunks of the group are accumulated and sorted ONCE before the
    quota is applied (a group larger than arrow maxRecordsPerBatch
    arrives as several chunks — sorting per-chunk would admit in
    arrival order across the chunk boundary). Replaying the same day
    therefore yields the same admit set — the property the batch-twin
    oracle checks. Across micro-batches, determinism additionally
    requires time-ordered segment arrival (state carries only the
    count, not which ids were admitted)."""
    from pyspark.sql import functions as F

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            days0, counts0 = state.get
            n_by_day = dict(zip(days0, counts0))
        else:
            n_by_day = {}
        frames = [pdf for pdf in pdfs if len(pdf)]
        out = None
        if frames:
            pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
            ts = pdf["ts_us"].to_numpy()
            eid = pdf["event_id"].to_numpy()
            day = pdf["day"].to_numpy()
            order = np.lexsort((eid, ts))  # (ts, id) total order
            eid, day = eid[order], day[order]
            cnt = len(eid)
            admitted = np.empty(cnt, dtype=bool)
            # per-day counters are independent; within a day the sorted
            # order is preserved by the mask, and admission under a
            # running counter is a PREFIX of that order
            for dy in np.unique(day):
                m = day == dy
                n0 = int(n_by_day.get(dy, 0))
                adm = (n0 + np.arange(int(m.sum()))) < quota
                admitted[m] = adm
                n_by_day[dy] = n0 + int(adm.sum())
            out = pd.DataFrame(
                {
                    "user_id": np.full(cnt, int(key[0]), dtype=np.int64),
                    "day": day,
                    "event_id": eid,
                    "admitted": admitted,
                }
            )
        if len(n_by_day) > retention_days:
            # prune: keep the newest `retention_days` DISTINCT day
            # entries (ISO yyyy-MM-dd strings sort chronologically).
            # Count-bounded on purpose, NOT date arithmetic off the max
            # day: a date cutoff keyed to the newest day seen lets ONE
            # event with a forged/skewed far-future timestamp wipe every
            # real counter and reset the user's live quotas, whereas
            # here a bogus day costs one map slot and real days stay
            # until `retention_days` genuinely newer distinct days have
            # arrived. State stays bounded at retention_days entries
            # per user either way.
            keep = sorted(n_by_day, reverse=True)[:retention_days]
            n_by_day = {d: n_by_day[d] for d in keep}
        state.update(
            (list(n_by_day.keys()), [int(v) for v in n_by_day.values()])
        )
        if out is not None:
            yield out

    narrowed = stream_df.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.date_format(
            F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd"
        ).alias("day"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        F.col(id_col).cast("long").alias("event_id"),
    )
    return narrowed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=QUOTA_OUT,
        stateStructType=QUOTA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
