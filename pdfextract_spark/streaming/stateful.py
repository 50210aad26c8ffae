"""Stateful streaming: conversation close-out detection.

The one transcript semantics that genuinely needs streaming STATE
(everything else in the engine is stateless per turn or a watermarked
windowed agg): emit exactly one summary row per conversation once no
further turns have arrived within ``gap`` of event time.  "Is this
conversation finished?" cannot be expressed declaratively — the answer
is produced by the ABSENCE of data, so it requires per-key state plus
an event-time timeout, the ``applyInPandasWithState`` pattern.

State per conv_id: (turns, chars, last_ts).  Each microbatch folds its
turns into the state and re-arms the timeout at ``last event + gap``;
when the watermark passes that point the group times out, the closed
session row is emitted, and the state is freed — bounded memory at any
conversation count.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..worker import settle_worker

SESSION_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turns", IntegerType()),
        StructField("chars", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("turns", IntegerType()),
        StructField("chars", LongType()),
        StructField("last_ts_ms", LongType()),
    ]
)


def _to_epoch_ms(ts: pd.Timestamp, tz: str) -> int:
    """applyInPandasWithState delivers naive timestamps localized to
    ``spark.sql.session.timeZone``, but setTimeoutTimestamp compares
    true epoch ms — treating the wall-clock value as UTC would arm the
    timeout off by the zone offset (west of UTC it can land BEFORE the
    watermark and kill the query).

    DST boundaries need explicit policies (the pandas defaults RAISE,
    which would kill the streaming query from inside the state
    function): a wall clock in the fall-back repeated hour resolves to
    the DST (earlier) instant — matching how java.time parses
    ambiguous local times — and a wall clock in the spring-forward gap
    (which Spark itself never emits, but replayed/synthetic data can)
    shifts forward to the first valid instant."""
    return int(
        pd.Timestamp(ts)
        .tz_localize(tz, ambiguous=True, nonexistent="shift_forward")
        .value
        // 1_000_000
    )


def _from_epoch_ms(ms: int, tz: str) -> pd.Timestamp:
    """Inverse: epoch ms back to the naive session-zone wall clock that
    Spark expects in returned timestamp columns."""
    return (
        pd.Timestamp(ms, unit="ms", tz="UTC").tz_convert(tz).tz_localize(None)
    )


def _close_sessions(gap_ms: int, tz: str):
    def fn(
        key: Any,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        settle_worker()
        (conv_id,) = key
        if state.hasTimedOut:
            turns, chars, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "turns": pd.Series([turns], dtype="int32"),
                    "chars": pd.Series([chars], dtype="int64"),
                    "last_ts": [_from_epoch_ms(last_ms, tz)],
                }
            )
            return
        turns, chars, last_ms = (
            state.get if state.exists else (0, 0, 0)
        )
        for pdf in pdfs:
            turns += int(len(pdf))
            chars += int(pdf["text"].fillna("").str.len().sum())
            batch_max = pdf["ts"].max()
            if pd.notna(batch_max):
                last_ms = max(last_ms, _to_epoch_ms(batch_max, tz))
        state.update((turns, chars, last_ms))
        if last_ms > 0:
            # a batch of only null-ts rows leaves last_ms unset; arming
            # a 1970 timeout would raise (timestamp < watermark) and
            # kill the query — the timeout re-arms when a timed row
            # arrives (null-ts rows are also filtered upstream)
            state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame(
            {
                "conv_id": pd.Series([], dtype="object"),
                "turns": pd.Series([], dtype="int32"),
                "chars": pd.Series([], dtype="int64"),
                "last_ts": pd.Series([], dtype="datetime64[ns]"),
            }
        )

    return fn


def conversation_sessions(
    stream_df: DataFrame, gap: str = "10 minutes"
) -> DataFrame:
    """transcripts stream -> closed-conversation summaries.

    ``stream_df`` needs (conv_id, text, ts); the watermark on ``ts``
    both bounds late data and drives the event-time timeouts.  The
    session timezone is captured at plan time so the pandas-side
    epoch arithmetic stays correct on non-UTC sessions."""
    n, unit = gap.split()
    gap_ms = int(n) * {
        "second": 1_000, "seconds": 1_000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
    }[unit]
    tz = stream_df.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC"
    )
    return (
        stream_df.where(F.col("ts").isNotNull())
        .withWatermark("ts", gap)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _close_sessions(gap_ms, tz),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
