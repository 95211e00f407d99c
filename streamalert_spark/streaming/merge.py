"""Streaming alert merge: ONE applyInPandasWithState state function,
keyed by (rule_name, merge-key values) and bound twice — processing-time
timeouts (``streaming_merge``) and event-time timeouts under a watermark
(``streaming_merge_event_time``).

Replaces the reference's DynamoDB-backed merger poll loop
(alert_merger/main.py:83-132). Each call appends the key's new alerts to
its buffer in the state store, regroups the buffer with
``alerts.merge.merge_groups`` and emits, through ``merged_rows`` (both
shared with ``merge_alerts_batch``), every group that is due:

- its rule has no merge window: each alert is its own group, emitted at
  once and never held in state;
- it holds MAX_MERGE_GROUP_SIZE alerts (alert_merger/main.py:34);
- event time: its oldest alert + window is at or behind the watermark;
- processing time: another group follows it (alerts arrive in order, so
  none can join it), or the call is the key's timeout, which flushes all.

The rest stay buffered. The event-time timeout is the earliest remaining
oldest + window, always past the watermark; the processing-time timeout
is one window. A greedy partition restarted at a group boundary yields
the same later groups, so batch and stream agree on in-order input.

Scale: a key's state is one open group (< MAX_MERGE_GROUP_SIZE alerts)
under processing time, and its groups still ahead of the watermark under
event time; each call re-parses and regroups it. Keys shard by hash of
(rule_name, merge_values), as DynamoDB partitioned the reference; use the
RocksDB state store at high key cardinality. No benchmark workload runs
this merger yet, so its cost on real traffic is unmeasured.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import timezone
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from streamalert_spark.alerts.merge import (
    MAX_MERGE_GROUP_SIZE,
    MERGED_COLUMNS,
    MERGED_SCHEMA,
    merge_groups,
    merged_rows,
    parse_created,
    with_merge_values,
)

_STATE_SCHEMA = "created array<string>, records array<string>, window_mins bigint, merge_keys array<string>"


def _merge_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    event_time: bool,
) -> Iterator[pd.DataFrame]:
    rule_name, merge_values = key
    created, records, window_mins, merge_keys = (
        state.get if state.exists else ([], [], None, [])
    )
    created, records, merge_keys = list(created), list(records), list(merge_keys)
    for pdf in pdfs:
        if len(pdf):
            created += pdf["created"].tolist()
            records += pdf["record"].tolist()
            window_mins = pdf["merge_window_mins"].iloc[-1]
            last_keys = pdf["merge_by_keys"].iloc[-1]
            merge_keys = [] if last_keys is None else list(last_keys)

    times = parse_created(created)
    window, groups = merge_groups(times, window_mins)
    if event_time:
        now_ms = state.getCurrentWatermarkMs()
    else:
        now_ms = float("inf") if state.hasTimedOut else float("-inf")

    def fire_ms(group: list[int]) -> int:
        # groups list members oldest-first; created is UTC
        oldest = times[group[0]].replace(tzinfo=timezone.utc)
        return int((oldest + window).timestamp() * 1000)

    due, kept = [], []
    for n, group in enumerate(groups):
        full = len(group) >= MAX_MERGE_GROUP_SIZE
        closed = not event_time and n < len(groups) - 1
        (due if window is None or full or closed or fire_ms(group) <= now_ms
         else kept).append(group)

    if kept:
        keep = [i for group in kept for i in group]
        state.update(([created[i] for i in keep], [records[i] for i in keep],
                      int(window_mins), merge_keys))
        if event_time:
            state.setTimeoutTimestamp(min(fire_ms(group) for group in kept))
        else:
            state.setTimeoutDuration(int(window.total_seconds() * 1000))
    elif state.exists:
        state.remove()

    rows = merged_rows(rule_name, merge_values, merge_keys, created, records, due)
    yield pd.DataFrame(rows, columns=MERGED_COLUMNS)


def streaming_merge(alerts: DataFrame) -> DataFrame:
    """Streaming alerts DataFrame (ALERT_SCHEMA columns) -> merged alerts,
    with a processing-time timeout of one merge window per key.

    Use on a stream; for batch semantics use alerts.merge.merge_alerts_batch.
    """
    return (
        with_merge_values(alerts).groupBy("rule_name", "merge_values")
        .applyInPandasWithState(
            partial(_merge_state, event_time=False),
            outputStructType=MERGED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def streaming_merge_event_time(
    alerts: DataFrame, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """Event-time streaming merge: watermark on the alert's created time,
    a group dispatches once the watermark reaches oldest + merge window.
    ``watermark_delay`` is the lateness bound — alerts later than it can no
    longer join their group (the state store has already emitted)."""
    with_time = with_merge_values(alerts).withColumn(
        "event_time",
        F.to_timestamp(F.col("created"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX"),
    ).withWatermark("event_time", watermark_delay)
    return (
        with_time.groupBy("rule_name", "merge_values")
        .applyInPandasWithState(
            partial(_merge_state, event_time=True),
            outputStructType=MERGED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
