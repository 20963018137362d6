"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY §2B Streaming row: "applyInPandasWithState for custom
stateful operators").

Built-in windows/dedup cover the declared surface; this module is the
escape hatch for semantics they can't express. The shipped example —
a per-user running *visit counter with anomaly flag* (flag any event
arriving < ``min_gap_s`` after the previous one, carrying a lifetime
count across micro-batches) — needs ordered cross-batch state, which
no built-in aggregation provides.

State model: one GroupState per user holding (n_events, last_ts).
Timeout: processing-time, so idle users' state is reaped — the
state-size bound that makes this safe on an unbounded key space.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id BIGINT, event_id BIGINT, seq_no BIGINT, "
    "gap_s DOUBLE, rapid_fire BOOLEAN"
)
STATE_SCHEMA = "n_events BIGINT, last_ts_us BIGINT"


def _flag_rapid_fire(min_gap_s: float, idle_timeout_ms: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, last_us = state.get if state.exists else (0, None)
        out = []
        batch = pd.concat(list(pdfs))
        # null event times (NaT) carry INT64_MIN in .value — they would
        # poison last_ts_us and every subsequent gap; drop them
        batch = batch[batch["ts"].notna()].sort_values(["ts", "event_id"])
        # column-zip, not iterrows(): per-row Series construction is
        # the slowest pandas iteration idiom, and this is the per-group
        # hot loop
        for ts, eid in zip(batch["ts"], batch["event_id"]):
            ts_us = int(ts.value // 1000)  # pandas ns -> us
            n += 1
            gap = (ts_us - last_us) / 1e6 if last_us is not None else None
            out.append(
                (
                    key[0],
                    int(eid),
                    n,
                    gap,
                    gap is not None and gap < min_gap_s,
                )
            )
            last_us = ts_us
        state.update((n, last_us))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "seq_no", "gap_s", "rapid_fire"]
        )

    return fn


def rapid_fire_flags(events, min_gap_s: float = 60.0, idle_timeout_ms: int = 0):
    """Stateful per-user sequence numbering + rapid-fire flagging.

    ``events`` is a streaming DataFrame with (user_id, event_id, ts).
    Arrow-batched per group; state is a 2-field tuple per user.

    ``idle_timeout_ms > 0`` enables processing-time state expiry for
    unbounded key spaces (the 100 TB safety bound). It costs extra
    timeout-processing micro-batches per trigger, so bounded/test
    workloads leave it off.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _flag_rapid_fire(min_gap_s, idle_timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


# ---- incremental ordered funnel (streaming form of query x35) ----

FUNNEL_OUTPUT_SCHEMA = (
    "user_id BIGINT, steps_reached INT, t1_us BIGINT, t2_us BIGINT, t3_us BIGINT"
)
FUNNEL_STATE_SCHEMA = "t1_us BIGINT, t2_us BIGINT, t3_us BIGINT"
_FUNNEL_STEPS = ("view", "click", "purchase")


def _advance_funnel(steps, idle_timeout_ms: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        slots = list(state.get) if state.exists else [None] * len(steps)
        batch = pd.concat(list(pdfs))
        batch = batch[batch["ts"].notna()].sort_values(["ts", "event_id"])
        for ts, et in zip(batch["ts"], batch["event_type"]):
            ts_us = int(ts.value // 1000)
            for k, step in enumerate(steps):
                if (
                    et == step
                    and slots[k] is None
                    and (k == 0 or (slots[k - 1] is not None and ts_us > slots[k - 1]))
                ):
                    slots[k] = ts_us
                    break
        state.update(tuple(slots))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        reached = sum(1 for s in slots if s is not None)
        yield pd.DataFrame(
            [(key[0], reached, *slots)],
            columns=["user_id", "steps_reached", "t1_us", "t2_us", "t3_us"],
        )

    return fn


def funnel_firsts(events, steps=_FUNNEL_STEPS, idle_timeout_ms: int = 0):
    """Incremental ordered funnel: per user, the first timestamp of
    each step where step k only counts events strictly after the
    user's step-(k-1) time — the streaming form of batch query x35.
    Emits the user's current (steps_reached, t1..tk) on every
    micro-batch that touches the user (update-style progress rows).

    Ordered-arrival contract: within a batch events are sorted by
    (ts, event_id) before state advances; across batches the funnel
    is exact when events arrive time-ordered (replayed landing files
    sorted by time, or an upstream watermark+sort stage). A late
    step-1 event cannot retroactively lower t1 once set — the
    documented divergence from the batch recompute, identical to any
    first-touch attribution system's streaming semantics.

    State per user is ``len(steps)`` BIGINTs — bounded; with
    ``idle_timeout_ms`` set, idle users' state is reaped, so the key
    space can be unbounded (the 100 TB contract).
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _advance_funnel(tuple(steps), idle_timeout_ms),
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )

