"""Event-time streaming operators: watermarked windowed aggregation and
stateful streaming dedup.

The reference has NO event-time semantics (SURVEY.md §2.11) — its
"streaming" is chunked micro-batch. These operators cover the Spark-native
streaming surface a 100 TB training-data pipeline needs on top of the
chunked runner:

- ``windowed_counts``: tumbling event-time windows with a watermark for
  late data over a file/rate/kafka stream (the streaming form of the
  batch ``events_hourly`` query).
- ``streaming_sessions``: native ``session_window`` gap sessionization
  with watermark-closed append output — the streaming twin of the batch
  ``operators.curation.sessionize``.
- ``streaming_first_seen``: cross-micro-batch exact dedup — emit only the
  FIRST occurrence of each key — via ``applyInPandasWithState`` (the
  custom-stateful-operator surface; state = "seen" flag per key group,
  with an event-time TTL so state doesn't grow unbounded and one-shot
  ``availableNow`` runs still end).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling-window counts (and optional value sum) with late-data
    handling: rows later than ``watermark`` behind the max event time are
    dropped and the window state is evictable — bounded state at any
    scale."""
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value")
        )
    keys = [F.window(F.col(ts_col), window_duration).alias("win")] + [
        F.col(c) for c in (group_cols or [])
    ]
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(*aggs)
    )
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *(group_cols or []),
        *[c for c in ("n", "sum_value") if c in out.columns],
    )


def streaming_sessions(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    value_col: str | None = None,
) -> DataFrame:
    """Streaming gap-based sessionization: Spark's native
    ``session_window`` merges events of a key whose gaps are < ``gap``
    into one growing window; the watermark closes sessions once event
    time has moved past their end, so state is bounded and results are
    emitted in append mode (one final row per session). The streaming
    twin of the batch ``operators.curation.sessionize`` — same gap
    semantics, incremental emission instead of a full-sort window.
    """
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("first_event"),
        F.max(ts_col).alias("last_event"),
    ]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum")
        )
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key_col)
        )
        .agg(*aggs)
    )
    return out.select(
        F.col(key_col),
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        *[c for c in ("n_events", "first_event", "last_event", "value_sum")
          if c in out.columns],
    )


_FIRST_SEEN_STATE = T.StructType([T.StructField("seen", T.BooleanType())])
_SEEN_AT = "_first_seen_at"


def streaming_first_seen(
    stream: DataFrame,
    key_col: str,
    state_ttl_minutes: float | None = 60,
) -> DataFrame:
    """Exact first-occurrence filter across micro-batches
    (``applyInPandasWithState``): the first row of each key ever observed
    is emitted; subsequent occurrences (same or later micro-batches) are
    dropped. Per-key state is one boolean with an optional TTL from the
    key's first sighting (after which a key may be emitted again — the
    unbounded-state trade every streaming dedup must choose).

    The TTL is an event-time timeout over a watermark on each row's batch
    time, so a key expires once data arriving more than the TTL after its
    first sighting has moved the watermark past it. A processing-time
    timeout would make Spark schedule a no-data batch after every batch,
    so a ``trigger(availableNow=True)`` query would never end; the
    watermark moves only with data, so such a query ends after at most
    one no-data batch."""
    out_schema = stream.schema
    names = out_schema.names
    ttl_ms = int(state_ttl_minutes * 60_000) if state_ttl_minutes else None

    def dedup(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        already = state.exists and state.get[0]
        if not already:
            for pdf in pdfs:
                if len(pdf):
                    yield pdf.head(1)[names]
                    break
            state.update((True,))
            if ttl_ms:
                state.setTimeoutTimestamp(
                    state.getCurrentProcessingTimeMs() + ttl_ms
                )
        else:
            for _ in pdfs:  # drain
                pass

    timeout = GroupStateTimeout.NoTimeout
    if ttl_ms:
        timeout = GroupStateTimeout.EventTimeTimeout
        # streaming current_timestamp() is the batch's timestamp, which
        # grows from batch to batch: no row is ever behind the watermark
        stream = stream.withColumn(_SEEN_AT, F.current_timestamp()).withWatermark(
            _SEEN_AT, "0 seconds"
        )
    return stream.groupBy(key_col).applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )
