"""Custom stateful streaming operators via applyInPandasWithState.

``running_counter`` is the streaming twin of the batch
``evt_stateful_counter`` plan (cumulative per-user event count): state
is one long per user, each micro-batch emits its input rows with the
updated running total.  Equivalence with the batch window phrasing is
asserted in tests/test_streaming.py.

100 TB notes: state lives in the executor state store (RocksDB in
production), partitioned by the grouping key — the shuffle is on
user_id only, and each micro-batch touches only keys present in that
batch.  Pair with a watermark + timeout to expire idle keys; here the
counter is intentionally unbounded (NoTimeout) to mirror the batch
cumulative window exactly.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Output rows: the input row identity plus the running total.
COUNTER_OUTPUT_SCHEMA = "user_id long, event_id long, n_so_far long"
#: Per-user state: a single running count.
COUNTER_STATE_SCHEMA = "n long"


def _cumcount_batch(chunks: list, n: int, user_key) -> tuple:
    """Concat-ALL-Arrow-chunks-then-sort + vectorized cumcount —
    shared by the applyInPandasWithState counter (:func:`_counter_fn`)
    and the transformWithStateInPandas twin so the critical
    cross-chunk ordering fix lives in ONE place (round-8 review): a
    group larger than spark.sql.execution.arrow.maxRecordsPerBatch
    arrives as multiple chunks in shuffle-arrival order, and per-chunk
    sorts would assign running counts in the wrong global
    (ts, event_id) order (measured: 40/40 rows wrong at batch size
    10).  Returns (out_frame, new_count).

    Chunks carry ``ts`` as epoch microseconds (see
    :func:`_micros_ts_input`): int64, or float64 with NaN where ``ts`` is
    NULL — ``np.lexsort`` puts NaN last, as ``sort_values`` puts NaT.
    Pure numpy on column arrays: it runs once per user per micro-batch,
    so per-group pandas overhead (~1 ms for concat + sort_values) would
    dominate the drain."""
    if not chunks:
        event_id = ts = np.empty(0, dtype="int64")
    else:
        event_id = np.concatenate([c["event_id"].to_numpy() for c in chunks])
        ts = np.concatenate([c["ts"].to_numpy() for c in chunks])
    order = np.lexsort((event_id, ts))
    m = len(order)
    out = pd.DataFrame(
        {
            "user_id": np.full(m, user_key, dtype="int64"),
            "event_id": event_id[order].astype("int64"),
            "n_so_far": np.arange(n + 1, n + m + 1, dtype="int64"),
        }
    )
    return out, n + m


def _micros_ts_input(events: DataFrame, *cols: str) -> DataFrame:
    """A grouped-state operator's input: only the columns it reads,
    plus ``ts`` as epoch microseconds, so Arrow hands every group plain
    numeric columns instead of a tz-aware datetime column that pandas
    converts once per group."""
    return events.select(*cols, F.unix_micros("ts").alias("ts"))


def _counter_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (n,) = state.get if state.exists else (0,)
    out, n = _cumcount_batch([p for p in pdfs if len(p)], n, key[0])
    state.update((n,))
    yield out


def running_counter(events: DataFrame) -> DataFrame:
    """Per-user running event count over a STREAMING DataFrame; state
    persists across micro-batches."""
    counter_input = _micros_ts_input(events, "user_id", "event_id")
    return counter_input.groupBy("user_id").applyInPandasWithState(
        _counter_fn,
        COUNTER_OUTPUT_SCHEMA,
        COUNTER_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def running_counter_tws(events: DataFrame) -> DataFrame:
    """Per-user running count via ``transformWithStateInPandas`` —
    Spark 4's successor to applyInPandasWithState: typed state handles
    (value/list/map), timers, TTL.  Semantics here are identical to
    :func:`running_counter`; equality is asserted in
    tests/test_streaming.py (environment-gated).

    Environment requirements, both enforced by Spark at query start:
    - RocksDB state store provider
      (``spark.sql.streaming.stateStore.providerClass``);
    - a working ``google.protobuf`` (the transformWithState Python
      driver worker speaks protobuf to the JVM).  This container's
      protobuf install is broken (``cannot import name 'descriptor'``),
      so the API is exercised only where the import succeeds — the
      applyInPandasWithState twin above carries the tested semantics.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CounterProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self._count.get()[0] if self._count.exists() else 0
            # shared concat-then-sort cumcount — the cross-chunk
            # ordering fix lives in _cumcount_batch, one copy
            out, n = _cumcount_batch([p for p in rows if len(p)], n, key[0])
            self._count.update((n,))
            yield out

        def close(self) -> None:
            pass

    counter_input = _micros_ts_input(events, "user_id", "event_id")
    return counter_input.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CounterProcessor(),
        outputStructType=COUNTER_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


#: Funnel output: running per-user totals (update mode — totals are
#: monotonic, so the latest row per user is the answer).
FUNNEL_OUTPUT_SCHEMA = "user_id long, n_purchases long, n_converted long"
#: Per-user state: last signup event time (µs; NULL = none seen — a
#: genuine value sentinel, not -1, because pre-epoch signup timestamps
#: are legitimately negative and must still convert; round-8 review)
#: and the running purchase/conversion totals.
FUNNEL_STATE_SCHEMA = "last_signup_us long, n_purchases long, n_converted long"

#: 30-minute conversion window, in microseconds.
_FUNNEL_GAP_US = 30 * 60 * 1_000_000


def _funnel_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    last_signup_us, n_p, n_c = (
        state.get if state.exists else (None, 0, 0)
    )
    # Concat ALL Arrow chunks before the single sort (same cross-chunk
    # ordering fix as _counter_fn): a signup arriving in a later chunk
    # with an earlier ts must be processed before the purchases it
    # converts.  In-batch order then mirrors the batch plan's ORDER BY
    # ts, event_id; cross-BATCH order is the stream's arrival order
    # (event-time ordered micro-batches in the tests).
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for ts, etype in zip(pdf["ts"], pdf["event_type"]):
            ts_us = ts.value // 1_000
            if etype == "signup":
                last_signup_us = ts_us
            elif etype == "purchase":
                n_p += 1
                if (
                    last_signup_us is not None
                    and ts_us - last_signup_us <= _FUNNEL_GAP_US
                ):
                    n_c += 1
    state.update((last_signup_us, n_p, n_c))
    yield pd.DataFrame(
        [(key[0], n_p, n_c)],
        columns=["user_id", "n_purchases", "n_converted"],
    )


def funnel_detector(events: DataFrame) -> DataFrame:
    """Streaming signup->purchase-within-30-min funnel — the stateful
    CEP twin of the batch ``evt_funnel_conversion`` plan: one long of
    state per user (the last signup time) instead of the batch
    window's unbounded-preceding frame.  State shuffles on user_id
    only; pair with a timeout in production to expire users whose
    signup can no longer convert (bounded state at 100 TB/day)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        FUNNEL_OUTPUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
