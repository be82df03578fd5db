"""Custom stateful streaming operator: per-series threshold-alert
latching with EWMA smoothing via ``applyInPandasWithState``.

Reference semantics: the danger-level processes re-evaluate each series
every scheduler tick and emit level transitions
(ll_nl_danger_levels.py). Streaming-native, that is keyed state: per
series keep the EWMA and last emitted level; emit a row only when the
level changes — the state is O(series), independent of stream length.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "event_type string, ts timestamp, ewma double, level string, prev_level string"
)
STATE_SCHEMA = "ewma double, level string"

from pygeoapi_ingestor_spark.operators.thresholds import (  # noqa: E402
    DANGER_FALLBACK as _FALLBACK,
    DANGER_LEVELS as _LEVELS,
)


def _classify(x: float) -> str:
    for bound, label in _LEVELS:
        if x < bound:
            return label
    return _FALLBACK


def alert_transitions(
    events: DataFrame, alpha: float = 0.2, watermark: str = "2 hours"
) -> DataFrame:
    """Emit (series, ts, ewma, level, prev_level) rows at level
    transitions only.

    Ordering caveat: events are applied in event-time order WITHIN each
    micro-batch; rows arriving in a later batch with earlier timestamps
    (allowed inside the watermark) fold into the EWMA out of order. For
    strict event-time replay, buffer rows in state until the watermark
    passes them — at the cost of state growth and emission latency.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.exists:
            ewma, level = state.get
        else:
            ewma, level = None, None
        out_rows: list[dict[str, Any]] = []
        # the iterator yields the group in arrow-sized CHUNKS: sorting
        # each chunk independently would fold the EWMA out of event-time
        # order whenever a group spans chunks — concatenate, THEN sort
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks).sort_values("ts")
            for ts, value in zip(pdf["ts"], pdf["value"]):
                ewma = value if ewma is None else alpha * value + (1 - alpha) * ewma
                new_level = _classify(ewma)
                if new_level != level:
                    out_rows.append(
                        {
                            "event_type": event_type,
                            "ts": ts,
                            "ewma": float(ewma),
                            "level": new_level,
                            "prev_level": level,
                        }
                    )
                    level = new_level
        state.update((float(ewma) if ewma is not None else None, level))
        if out_rows:
            yield pd.DataFrame(out_rows)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
