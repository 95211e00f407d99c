"""Alert-merge semantics tests — mirrors tests/unit/streamalert/shared/
test_alert.py (merge algorithm) and alert_merger tests in the reference."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from streamalert_spark.alerts.merge import (
    greedy_groups,
    merge_common_subset,
    merge_value_diffs,
    synthesize_merged,
)


def test_common_subset_nested():
    """alert.py:289-336 — greatest common subset over nested dicts."""
    records = [
        {"a": 1, "b": {"x": "same", "y": "one"}, "c": "only-here"},
        {"a": 1, "b": {"x": "same", "y": "two"}},
    ]
    common = merge_common_subset(records)
    assert common == {"a": 1, "b": {"x": "same"}}


def test_value_diffs():
    """alert.py:338-380 — flattened non-common values."""
    common = {"a": 1, "b": {"x": "same"}}
    rec = {"a": 1, "b": {"x": "same", "y": "one"}, "c": 9}
    diffs = merge_value_diffs(rec, common)
    assert diffs == {"b.y": "one", "c": 9}


def test_synthesize_merged_fields():
    """alert.py:382-433 — merged-alert output columns."""
    alerts = [
        {"created": "2024-01-01T00:00:00.000000Z",
         "record": {"user": "bob", "host": "h1", "n": 1}},
        {"created": "2024-01-01T00:05:00.000000Z",
         "record": {"user": "bob", "host": "h2", "n": 2}},
    ]
    merged = synthesize_merged(alerts, merge_keys=["user"])
    assert merged["AlertCount"] == 2
    assert merged["AlertTimeFirst"] == "2024-01-01T00:00:00.000000Z"
    assert merged["AlertTimeLast"] == "2024-01-01T00:05:00.000000Z"
    assert merged["MergedBy"] == {"user": "bob"}
    assert "host" not in merged["OtherCommonKeys"]
    d1 = merged["ValueDiffs"]["2024-01-01T00:00:00.000000Z"]
    assert d1 == {"host": "h1", "n": "1"}


def test_greedy_groups_window_and_cap():
    """alert_merger/main.py:106-132 — greedy chronological grouping:
    membership is relative to the group's OLDEST alert; cap 50."""
    t0 = datetime(2024, 1, 1)
    created = [t0, t0 + timedelta(minutes=5), t0 + timedelta(minutes=11),
               t0 + timedelta(minutes=14)]
    groups = greedy_groups(created, window=timedelta(minutes=10))
    # alert at +11 exceeds t0+10 -> starts a new group; +14 joins it
    assert groups == [[0, 1], [2, 3]]


def test_greedy_groups_cap():
    t0 = datetime(2024, 1, 1)
    created = [t0 + timedelta(seconds=i) for i in range(120)]
    groups = greedy_groups(created, window=timedelta(hours=1), cap=50)
    assert [len(g) for g in groups] == [50, 50, 20]


def test_merge_alerts_batch(spark):
    """End-to-end batch merge through applyInPandas."""
    import json

    rows = []
    t0 = datetime(2024, 1, 1)
    for i in range(4):
        rows.append((
            f"id{i}", "my_rule",
            (t0 + timedelta(minutes=3 * i)).strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
            json.dumps({"user": "bob", "n": i}),
            ["user"], 5,
        ))
    df = spark.createDataFrame(
        rows,
        "id string, rule_name string, created string, record string, "
        "merge_by_keys array<string>, merge_window_mins bigint",
    )
    from streamalert_spark.alerts.merge import merge_alerts_batch

    out = merge_alerts_batch(df).collect()
    # 0,3 in group1 (0+5min window: 0,3); 6,9 exceed -> group2
    counts = sorted(r["alert_count"] for r in out)
    assert sum(counts) == 4
    assert all(r["rule_name"] == "my_rule" for r in out)
    merged = json.loads(out[0]["merged_record"])
    assert merged["MergedBy"] == {"user": "bob"}


def test_merge_alerts_batch_two_merge_keys(spark):
    """A rule merged on two keys: the pandas batch holds merge_by_keys as
    a numpy array, whose truth value is ambiguous; both keys land in
    MergedBy."""
    import json

    from streamalert_spark.alerts.merge import merge_alerts_batch

    t0 = datetime(2024, 1, 1)
    rows = [(f"id{i}", "r2",
             (t0 + timedelta(minutes=i)).strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
             json.dumps({"user": "bob", "host": "h1", "n": i}),
             ["user", "host"], 5) for i in range(3)]
    df = spark.createDataFrame(
        rows,
        "id string, rule_name string, created string, record string, "
        "merge_by_keys array<string>, merge_window_mins bigint",
    )
    out = merge_alerts_batch(df).collect()
    assert [r["alert_count"] for r in out] == [3]
    assert json.loads(out[0]["merged_record"])["MergedBy"] == {"user": "bob", "host": "h1"}


def test_generator_limit_caps_oldest_per_rule(spark):
    """alert_merger/main.py:62-66 — at most N alerts per rule per pass,
    oldest first; the rest waits for the next pass."""
    import json

    rows = []
    t0 = datetime(2024, 1, 1)
    for rule in ("noisy", "quiet"):
        n = 8 if rule == "noisy" else 2
        for i in range(n):
            rows.append((
                f"{rule}{i}", rule,
                (t0 + timedelta(minutes=i)).strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
                json.dumps({"user": "bob", "n": i}),
                ["user"], 60,
            ))
    df = spark.createDataFrame(
        rows,
        "id string, rule_name string, created string, record string, "
        "merge_by_keys array<string>, merge_window_mins bigint",
    )
    from streamalert_spark.alerts.merge import cap_alerts_per_rule, merge_alerts_batch

    capped = cap_alerts_per_rule(df, limit=3)
    per_rule = {r["rule_name"]: r["cnt"] for r in
                capped.groupBy("rule_name").agg(F.count("*").alias("cnt")).collect()}
    assert per_rule == {"noisy": 3, "quiet": 2}
    # oldest-first: the 3 kept noisy alerts are minutes 0,1,2
    kept = sorted(r["created"] for r in capped.filter(F.col("rule_name") == "noisy").collect())
    assert kept[-1].startswith("2024-01-01T00:02")

    out = merge_alerts_batch(df, generator_limit=3).collect()
    assert sum(r["alert_count"] for r in out if r["rule_name"] == "noisy") == 3
