"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY §2.9 T5 + engine addition).

`sessionize_stateful` is the hand-rolled counterpart of
`pipelines.sessionize_stream` (built-in `session_window`): per-key
session state is held explicitly in the state store, sessions close
either when a later event arrives past the gap (in-batch) or when the
event-time watermark passes start+gap (timeout). Writing it with
applyInPandasWithState demonstrates the custom-stateful-operator path
for semantics the built-ins can't express (the built-in covers plain
gap sessions; anything with richer per-key state — decaying counters,
cross-session carry-over, fraud windows — needs this shape).

Scale: state is (3 longs)/key, Arrow-batched per micro-batch, and the
state store shards by the group key — the same partitioning story as
any keyed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The Python-boundary schema carries RAW MICROS, not timestamps:
# Arrow converts TimestampType to/from pandas via the SESSION timezone
# (values arrive TZ-naive in session wall clock, and naive values
# returned are re-interpreted in session wall clock), so a non-UTC
# session would shift every instant crossing the boundary. int64 in,
# int64 out; `sessionize_stateful` converts back with
# timestamp_micros() (instant-exact, TZ-free) after the stateful op.
_SESSION_RAW_SCHEMA = StructType(
    [
        StructField("ip", StringType()),
        StructField("host", StringType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("num_events", IntegerType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", IntegerType()),
    ]
)


def sessionize_stateful(
    events: DataFrame,
    gap_seconds: int = 300,
    ts_col: str = "ts",
    watermark: str = "15 seconds",
) -> DataFrame:
    """5-minute-gap sessionization with explicit state (keys: ip, host).

    Emits one row per CLOSED session (append mode): closed in-batch by a
    successor event beyond the gap, or closed by event-time timeout once
    the watermark passes last_event + gap. Open sessions stay in the
    state store.
    """
    gap_us = gap_seconds * 1_000_000
    gap_ms = gap_seconds * 1_000

    def fn(key, pdfs, state: GroupState):
        # self-contained closure (executors may lack this package)
        import pandas as _pd

        ip, host = key

        def _emit(rows):
            return _pd.DataFrame(
                {
                    "ip": [ip] * len(rows),
                    "host": [host] * len(rows),
                    "start_us": _pd.array(
                        [r[0] for r in rows], dtype="int64"
                    ),
                    "end_us": _pd.array(
                        [r[1] for r in rows], dtype="int64"
                    ),
                    "num_events": _pd.array(
                        [r[2] for r in rows], dtype="int32"
                    ),
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield _emit([(start_us, last_us, n)])
            return

        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(pdf["_ts_us"].astype("int64").tolist())
        ts_us.sort()

        cur = state.get if state.exists else None
        closed: list[tuple[int, int, int]] = []
        for t in ts_us:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] <= gap_us:
                cur = (cur[0], t, cur[2] + 1)
            else:
                closed.append(cur)
                cur = (t, t, 1)
        state.update(cur)
        # close by timeout when the watermark passes last + gap; the
        # timestamp must sit strictly beyond the current watermark
        timeout_ms = max(
            cur[1] // 1000 + gap_ms, state.getCurrentWatermarkMs() + 1
        )
        state.setTimeoutTimestamp(timeout_ms)
        if closed:
            yield _emit(closed)

    from pyspark.sql import functions as F

    raw = (
        events.withColumn("_ts_us", F.unix_micros(F.col(ts_col)))
        .withWatermark(ts_col, watermark)
        .groupBy("ip", "host")
        .applyInPandasWithState(
            fn,
            _SESSION_RAW_SCHEMA,
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return raw.select(
        "ip",
        "host",
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        "num_events",
    )
