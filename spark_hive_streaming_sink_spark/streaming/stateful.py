"""Custom stateful per-key streaming processing (SURVEY.md §2C
"stateful per-key processing"): ``applyInPandasWithState``.

This generalizes the reference's only piece of per-key executor state —
the per-partition-value writer map at ``HiveStreamDataWriter.scala:52``
(``inUseWriters``) — into arbitrary user state keyed by group, the
Spark-native mechanism for custom streaming operators (counters,
sessionization, model state).

Scale posture: state lives in the state store partitioned by group key
(one shuffle), checkpointed incrementally; the pandas kernel sees one
group at a time, so memory is bounded by the largest single group, not
the stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import register
from .ops import run_to_memory, stream_table

STATE_OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, last_event_type string"
)
STATE_SCHEMA = "n bigint, total_cents bigint, last_ts_us bigint, last_type string"


def _track_user(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running aggregate with explicit state: count, exact
    cent-sum, latest event type by event time (exact integer state →
    deterministic regardless of batch slicing)."""
    (user_id,) = key
    if state.exists:
        n, total_cents, last_ts_us, last_type = state.get
    else:
        n, total_cents, last_ts_us, last_type = 0, 0, -1, ""
    for pdf in pdf_iter:
        n += len(pdf)
        # .sum() skips the NaN that a NULL value becomes; min_count=0
        # keeps an all-NULL batch at 0 instead of NaN
        total_cents += int(pdf["value_cents"].sum(min_count=0) or 0)
        top = pdf.loc[pdf["ts_us"].idxmax()]
        if int(top["ts_us"]) > last_ts_us:
            last_ts_us = int(top["ts_us"])
            last_type = str(top["event_type"])
    state.update((n, total_cents, last_ts_us, last_type))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total_cents / 100.0],
            "last_event_type": [last_type],
        }
    )


@register(
    "stream_stateful_per_key",
    oracle="""
    WITH ev AS (
      -- keyed stateful tracking needs a key and an event time: NULL
      -- user_id/ts excluded identically in BOTH engines (the join on
      -- user_id would drop the NULL group in DuckDB anyway, while
      -- Spark's groupBy would keep it as a real group)
      SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
      FROM ev)
    SELECT e.user_id,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)
             / 100.0 AS total_value,
           MAX(r.event_type) AS last_event_type
    FROM ev e JOIN ranked r ON r.user_id = e.user_id AND r.rn = 1
    GROUP BY e.user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator over a real stream: per-user event
    count, exact value sum, and latest event type maintained in
    GroupState via applyInPandasWithState; final state matches the
    static SQL aggregate."""
    ev = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("value_cents"),
        )
    )
    tracked = ev.groupBy("user_id").applyInPandasWithState(
        _track_user,
        outputStructType=STATE_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = run_to_memory(tracked, mode="update")
    # in update mode each micro-batch emits that key's latest running
    # state; keep the final emission per user (max n_events)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value", "last_event_type")
    )
