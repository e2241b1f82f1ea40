"""Event-time windowed aggregation and custom stateful streaming operators.

The reference is batch-only (SURVEY §2.8); these are the engine extensions a
continuously-ingesting deployment needs on top of `streaming/ingest.py`:

* ``windowed_event_counts`` — watermarked event-time tumbling-window
  aggregation: late rows beyond the watermark are dropped, everything else
  lands in its event-time bucket regardless of arrival order. Built-ins
  only (``window()`` + groupBy), so state eviction and late-data handling
  are Spark's own battle-tested path.
* ``stateful_dedup_stream`` — first-seen-wins streaming deduplication via
  ``applyInPandasWithState``: state is one flag per content fingerprint
  group, so re-arrivals of the same content in LATER micro-batches are
  suppressed too (a plain ``dropDuplicates`` on a stream keeps unbounded
  state; here the state payload is a single boolean per distinct content,
  and a production deployment bounds it with a processing-time timeout).

Both operators are exercised end-to-end (file-source drops + availableNow)
in tests/test_streaming_stateful.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType


def windowed_event_counts(
    stream: DataFrame,
    window_len: str = "10 minutes",
    watermark: str = "20 minutes",
    ts: str = "event_ts",
    key: str = "cell_id",
) -> DataFrame:
    """Per-(key, event-time window) counts + value sum with a watermark:
    rows later than ``watermark`` behind the max seen event time are
    dropped; windows finalize (and their state evicts) once the watermark
    passes their end. Partial aggregation applies per micro-batch, so the
    shuffle carries one row per (key, window) per batch."""
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window_len).alias("win"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key,
            "n_events",
            "sum_value",
        )
    )


_DEDUP_STATE = StructType([StructField("seen", LongType())])


def stateful_dedup_stream(
    stream: DataFrame, text: str = "text", key: str = "doc_id"
) -> DataFrame:
    """First-seen-wins streaming dedup keyed by a 128-bit content
    fingerprint (same key discipline as the batch ``exact_dedup``: the
    shuffle key is 16 bytes, never the document text). State per distinct
    content is one long.

    The output schema is the input schema (fingerprint columns dropped), so
    any (key, text, ...) frame works — column names are NOT hardcoded
    (r2 advisory finding). The survivor per content group is the lowest
    ``key`` row of the first micro-batch that sees the group."""
    if text not in stream.columns or key not in stream.columns:
        raise ValueError(
            f"stateful_dedup_stream: input must carry '{key}' and '{text}' "
            f"columns; got {stream.columns}"
        )
    out_cols = list(stream.columns)
    out_schema = StructType([stream.schema[c] for c in out_cols])

    def _dedup_fn(
        _k, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # emit the lowest-key row of this content group the FIRST time the
        # group is seen across the whole stream; afterwards the state flag
        # suppresses every re-arrival
        batch = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            return iter(())
        state.update((1,))
        best = batch.sort_values(key).iloc[:1]
        return iter([best[out_cols]])

    # FlatMapGroupsInPandasWithState requires plain grouping attributes, so
    # the fingerprint halves are materialized as columns first
    fp = stream.withColumn("__fp1", F.xxhash64(F.col(text))).withColumn(
        "__fp2", F.xxhash64(F.col(text), F.lit(41))
    )
    keyed = fp.groupBy("__fp1", "__fp2")
    return keyed.applyInPandasWithState(
        _dedup_fn,
        outputStructType=out_schema,
        stateStructType=_DEDUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def sessionize_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    ts: str = "event_ts",
    key: str = "user_id",
) -> DataFrame:
    """Streaming gap sessionization via ``applyInPandasWithState`` — the
    continuous counterpart of the batch ``sessionize`` operator (same
    semantics: a new session starts when the gap to the previous event
    EXCEEDS ``gap``; an exact-gap event stays in-session).

    A session closes two ways:

    * **in-data**: a later event of the same key arrives more than ``gap``
      after the session's last event — the closed session is emitted in
      that micro-batch;
    * **by timeout**: no successor arrives and the event-time watermark
      passes ``last_event + gap`` — the open session is emitted when the
      timeout fires (EventTimeTimeout, so idle keys cost one 24-byte state
      row until the watermark sweeps them out; nothing waits on wall
      clock).

    State per key is (start_us, last_us, n_events) — fixed 24 bytes no
    matter how many events the session absorbed, so 10^9 concurrent users
    hold ~24 GB of state across the cluster, partitioned by key. Per-batch
    work is vectorized (numpy diff/cumsum over the key's sorted events).

    Output: one row per CLOSED session ``(key, session_start, session_end,
    n_events)``, append-mode friendly.
    """
    import numpy as np

    gap_us = _duration_ms(gap) * 1000  # microsecond precision end-to-end
    out_schema = StructType(
        [
            stream.schema[key],
            StructField("session_start", stream.schema[ts].dataType),
            StructField("session_end", stream.schema[ts].dataType),
            StructField("n_events", LongType()),
        ]
    )

    def _fn(k, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        def _emit(rows):
            return pd.DataFrame(
                {
                    key: [k[0]] * len(rows),
                    "session_start": [pd.Timestamp(s, unit="us") for s, *_ in rows],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in rows],
                    "n_events": np.array([n for *_, n in rows], dtype=np.int64),
                }
            )

        if state.hasTimedOut:
            s0, l0, n0 = state.get
            state.remove()
            yield _emit([(s0, l0, n0)])
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        t = np.sort(batch[ts].values.astype("datetime64[us]").astype(np.int64))
        # vectorized segmenting of the batch alone: a boundary wherever the
        # gap STRICTLY exceeds gap_us (exact-gap events stay in-session,
        # matching the batch sessionize operator)
        starts_idx = np.flatnonzero(
            np.concatenate(([True], np.diff(t) > gap_us))
        )
        ends_idx = np.concatenate((starts_idx[1:] - 1, [len(t) - 1]))
        sessions = [
            (int(t[a]), int(t[b]), int(b - a + 1))
            for a, b in zip(starts_idx, ends_idx)
        ]
        if state.exists:
            s0, l0, n0 = state.get
            if t[0] - l0 <= gap_us:
                # first batch segment continues the open session
                _, e, n = sessions[0]
                sessions[0] = (s0, max(e, l0), n0 + n)
            else:
                sessions.insert(0, (s0, l0, n0))
        closed, (s0, l0, n0) = sessions[:-1], sessions[-1]
        state.update((int(s0), int(l0), int(n0)))
        # a late (but in-watermark) event can leave last+gap behind the
        # watermark; the timeout must still be strictly ahead of it
        # timeout API is millisecond-granular: ceil so it never fires a
        # sub-ms EARLY (and always strictly ahead of the current watermark)
        state.setTimeoutTimestamp(
            max(-(-(int(l0) + gap_us) // 1000), state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield _emit(closed)

    wm = stream.withWatermark(ts, watermark)
    return wm.groupBy(key).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _duration_ms(s: str) -> int:
    """Parse '30 minutes' / '2 hours' / '45 seconds' to milliseconds."""
    n, unit = s.split()
    mult = {"second": 1000, "minute": 60_000, "hour": 3_600_000,
            "day": 86_400_000}[unit.rstrip("s")]
    return int(n) * mult


def interval_join_streams(
    left,
    right,
    key: str = "user_id",
    ts_left: str = "ts_l",
    ts_right: str = "ts_r",
    lookback: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
):
    """Stream-stream event-time interval join (the attribution join): each
    LEFT event pairs with RIGHT events of the same key whose timestamp
    falls in [left.ts - lookback, left.ts].

    Both sides carry watermarks and the join condition carries explicit
    event-time bounds — the two requirements Structured Streaming needs to
    size and EXPIRE the join state (without the bounds the state grows
    unboundedly; with them, rows older than watermark+lookback are evicted
    every micro-batch). State is keyed on ``key`` — the shuffle key — so
    hot users are the AQE-skew case exactly as in the batch engine.

    ``how``: ``'inner'`` (default) or ``'left_outer'`` (the attribution
    use-case "impressions with no click"). Outer semantics: matched pairs
    are emitted as they join, exactly as inner; an UNMATCHED left row is
    null-padded and emitted only once the watermark guarantees no
    qualifying right row can still arrive — i.e. when the event-time
    watermark passes the row's own timestamp (its match window is
    ``[ts_l - lookback, ts_l]``, and any right row below the watermark is
    dropped as late). Under an availableNow replay the engine runs a final
    no-data micro-batch with watermark = min over the two sides of
    max(event time) - ``watermark`` (Spark's default multiple-watermark
    policy), so the null-padded rows for the WATERMARK-CLOSED region (ts_left <
    that final watermark) are all emitted, while unmatched left rows
    younger than the final watermark stay in state and are NOT emitted —
    deterministic given the input, but only the closed region is
    batch-equivalent. Oracle strategy (q_stream_join_outer): clamp both
    engines to ts_left <= min(max_ts_left, max_ts_right) - watermark -
    margin and compare against the batch LEFT join there.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left_outer"):
        raise ValueError(
            f"how={how!r}: stream-stream interval join supports 'inner' "
            "and 'left_outer' (right/full outer would need the symmetric "
            "watermark bound on ts_left; add when a use-case appears)")
    l = left.withWatermark(ts_left, watermark)
    r = right.withWatermark(ts_right, watermark)
    cond = (
        (l[key] == r[key])
        & (r[ts_right] >= l[ts_left] - F.expr(f"INTERVAL {lookback}"))
        & (r[ts_right] <= l[ts_left])
    )
    return l.join(r, cond, how).drop(r[key])
