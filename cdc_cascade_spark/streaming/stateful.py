"""Custom stateful streaming operators (applyInPandasWithState).

The engine's streaming surface needs operators Spark doesn't ship:

- ``first_seen_filter``: cross-batch streaming dedup — emit each key's
  first-ever event, suppress every later one. The keyed state is one
  marker per key; at 100 TB-of-stream the state store (RocksDB in prod
  config) holds only key + flag. Where business rules allow a key to
  be forgotten, ``streaming/joins.py::dedup_within_watermark`` is the
  bounded-state dedup.

- ``running_counts``: per-key running event count with update-mode
  emission — the minimal template for custom aggregating state.

All are Arrow-batched (pandas in/out) per the engine's UDF policy:
Python only where built-in operators genuinely can't express the
semantics (cross-batch keyed state in arbitrary code).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def first_seen_filter(
    events: DataFrame, key_col: str, out_cols: list[str]
) -> DataFrame:
    """Streaming dedup: pass through only the first event per key."""

    schema = ", ".join(f"{c} {t}" for c, t in events.select(out_cols).dtypes)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return  # key already emitted in an earlier batch
        # A group's batch may arrive as several Arrow chunks; the
        # sort-minimal row can be in any of them, so keep each chunk's
        # head candidate and sort once at the end.
        heads = [
            pdf.sort_values(out_cols).head(1)[out_cols]
            for pdf in pdfs
            if len(pdf)
        ]
        if heads:
            state.update((True,))
            yield pd.concat(heads).sort_values(out_cols).head(1)

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_counts(events: DataFrame, key_col: str) -> DataFrame:
    """Per-key running count across micro-batches (update mode)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        batch_n = sum(len(pdf) for pdf in pdfs)
        if batch_n:
            n += batch_n
            state.update((n,))
            yield pd.DataFrame({key_col: [key[0]], "n_events": [n]})

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=f"{key_col} long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_tracker(events: DataFrame) -> DataFrame:
    """Streaming funnel: per-user stage machine across micro-batches.

    Emits one row per stage TRANSITION — (user_id, stage, ts) with
    stage 1..3 — the moment a user first completes view, then click
    strictly after that view, then purchase strictly after that click.
    Converges to exactly the batch ``funnel_conversion`` semantics
    (operators/behavior.py) when each user's events arrive in
    event-time order — the guarantee a key-partitioned CDC/Kafka
    topic provides (per-key producer order). Out-of-order delivery
    ACROSS micro-batches can under-count (a late-arriving earlier
    event cannot retroactively re-run the machine: the state keeps
    only (stage, last_transition_ts), deliberately O(1) per user —
    the price of bounded state at 100 TB-of-stream; an event-time-
    robust variant would need per-user event buffering under a
    watermark).

    State per user: stage int + one µs timestamp — tiny, RocksDB-ready.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        stage, t_last_us = state.get if state.exists else (0, 0)
        out_users, out_stages, out_ts = [], [], []
        batch = [
            pdf[["ts", "event_type"]]
            for pdf in pdfs
            if len(pdf)
        ]
        if not batch:
            return
        rows = pd.concat(batch).sort_values("ts")
        for ts, et in zip(rows["ts"], rows["event_type"]):
            if stage >= len(FUNNEL_STAGES):
                break
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if et == FUNNEL_STAGES[stage] and (stage == 0 or ts_us > t_last_us):
                stage += 1
                t_last_us = ts_us
                out_users.append(key[0])
                out_stages.append(stage)
                out_ts.append(ts)
        if out_users:
            state.update((stage, t_last_us))
            yield pd.DataFrame(
                {"user_id": out_users, "stage": out_stages, "ts": out_ts}
            )
        elif state.exists or stage:
            state.update((stage, t_last_us))

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, stage int, ts timestamp",
        stateStructType="stage int, t_last_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def funnel_tracker_event_time(events: DataFrame, watermark: str = "5 days") -> DataFrame:
    """Out-of-order-robust streaming funnel (event-time finalization).

    The watermark-buffered variant of ``funnel_tracker``: events are
    BUFFERED in keyed state and the stage machine only consumes them
    once the event-time watermark has passed them — so any reordering
    within the allowed lateness cannot corrupt stage order, at the
    price of state that holds up to (per-user rate × watermark delay)
    buffered events. That buffer-vs-correctness trade IS the
    event-time-processing contract; events later than the watermark
    are processed best-effort in arrival order (the same contract
    Spark's own stateful operators give late data).

    Emission timing: transitions are emitted when the watermark passes
    the triggering event, not when it arrives — downstream sees a
    finalized, replay-stable stream.

    State per user: (stage, t_last_us, buffered ts[], buffered et[]).
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            stage, t_last_us, buf_ts, buf_et = state.get
            buf_ts, buf_et = list(buf_ts), list(buf_et)
        else:
            stage, t_last_us, buf_ts, buf_et = 0, 0, [], []
        for pdf in pdfs:
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                buf_ts.append(int(pd.Timestamp(ts).value // 1000))
                buf_et.append(et)
        wm_us = state.getCurrentWatermarkMs() * 1000
        ready = sorted(
            (t, e) for t, e in zip(buf_ts, buf_et) if t <= wm_us
        )
        pending = [(t, e) for t, e in zip(buf_ts, buf_et) if t > wm_us]
        out_users, out_stages, out_ts = [], [], []
        for t, e in ready:
            if stage >= len(FUNNEL_STAGES):
                break
            if e == FUNNEL_STAGES[stage] and (stage == 0 or t > t_last_us):
                stage += 1
                t_last_us = t
                out_users.append(key[0])
                out_stages.append(stage)
                out_ts.append(pd.Timestamp(t * 1000))
        state.update(
            (
                stage,
                t_last_us,
                [t for t, _ in pending],
                [e for _, e in pending],
            )
        )
        if out_users:
            yield pd.DataFrame(
                {"user_id": out_users, "stage": out_stages, "ts": out_ts}
            )

    from pyspark.sql import functions as F

    # withWatermark requires TimestampType; the catalog normalizes the
    # events ts to TIMESTAMP_NTZ. The session is pinned to UTC, so the
    # cast is a type-tag change, not a wall-clock shift.
    with_ts = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        with_ts.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, stage int, ts timestamp",
            stateStructType=(
                "stage int, t_last_us long, buf_ts array<bigint>, "
                "buf_et array<string>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
