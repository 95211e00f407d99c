"""Streaming pipeline + golden-event + delivery tests."""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from streamalert_spark.normalize.normalizer import NormalizationSpec, Normalizer, PathSpec
from streamalert_spark.rules.registry import Rule, RuleRegistry
from streamalert_spark.schema.registry import LogSchema, SchemaRegistry
from streamalert_spark.streaming.pipeline import StreamingPipeline
from streamalert_spark.streaming.sinks import AlertDispatcher, HistoricalStore, file_output
from streamalert_spark.testing import run_golden_event


def _guardduty_pipeline() -> StreamingPipeline:
    """The round-1 slice from SURVEY.md §7.1: guard_duty_all-shaped rule
    (reference rules/community/guardduty/guard_duty_all.py:6-18, matcher at
    matchers/default.py:19-24)."""
    schemas = SchemaRegistry()
    schemas.register(LogSchema(
        name="cloudwatch:events",
        schema={
            "account": "string", "detail": {}, "detail-type": "string",
            "id": "string", "region": "string", "resources": [],
            "source": "string", "time": "string", "version": "string",
        },
    ))
    rules = RuleRegistry()
    rules.matcher(lambda r: r.get("detail-type") == "GuardDuty Finding",
                  name="guard_duty",
                  expr=lambda rec: rec["detail-type"] == "GuardDuty Finding")
    rules.add(Rule(
        name="guard_duty_all",
        expr=lambda rec: F.lit(True),
        matchers=["guard_duty"],
        logs=["cloudwatch:events"],
        outputs=["slack:alerts"],
        description="GuardDuty finding",
    ))
    return StreamingPipeline(schemas=schemas, rules=rules, cluster="test")


def _gd_event(detail_type="GuardDuty Finding"):
    return {
        "account": "123456789012", "detail": {"severity": "8"},
        "detail-type": detail_type, "id": "abc-123", "region": "us-east-1",
        "resources": [], "source": "aws.guardduty",
        "time": "2024-01-01T00:00:00Z", "version": "0",
    }


def test_golden_event_triggers(spark):
    event = {
        "data": _gd_event(),
        "description": "GuardDuty finding triggers guard_duty_all",
        "log": "cloudwatch:events",
        "service": "kinesis",
        "source": "prefix_cluster1_streamalert",
        "trigger_rules": ["guard_duty_all"],
    }
    result = run_golden_event(spark, _guardduty_pipeline(), event)
    assert result.passed, result.failures


def test_golden_event_no_unexpected_triggers(spark):
    """results.py:280-285 — an unexpected trigger fails the test."""
    event = {
        "data": _gd_event(detail_type="Something Else"),
        "description": "non-GuardDuty event must NOT trigger",
        "log": "cloudwatch:events",
        "service": "kinesis",
        "source": "prefix_cluster1_streamalert",
        "trigger_rules": [],
    }
    result = run_golden_event(spark, _guardduty_pipeline(), event)
    assert result.passed, result.failures


def test_golden_event_classification_mismatch_fails(spark):
    event = {
        "data": {"unrelated": "shape"},
        "description": "wrong shape fails classification",
        "log": "cloudwatch:events",
        "service": "kinesis",
        "source": "s",
        "trigger_rules": [],
    }
    result = run_golden_event(spark, _guardduty_pipeline(), event)
    assert not result.passed


def test_streaming_end_to_end(spark, tmp_path):
    """File source -> classify -> rule -> alerts parquet, availableNow."""
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    with open(src_dir / "batch1.jsonl", "w") as fh:
        fh.write(json.dumps(_gd_event()) + "\n")
        fh.write(json.dumps(_gd_event("Not A Finding")) + "\n")

    pipeline = _guardduty_pipeline()
    src = spark.readStream.format("text").load(str(src_dir))
    alerts = pipeline.build_alerts(src, service="kinesis", resource="stream1")
    q = (
        alerts.writeStream.format("parquet")
        .option("path", str(tmp_path / "alerts"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "alerts"))
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["rule_name"] == "guard_duty_all"
    assert rows[0]["outputs"] == ["slack:alerts"]
    assert rows[0]["cluster"] == "test"


def test_streaming_merge_stateful(spark, tmp_path):
    """applyInPandasWithState merge: grouped alerts emit on timeout."""
    from streamalert_spark.streaming.merge import streaming_merge

    src_dir = tmp_path / "alerts_in"
    src_dir.mkdir()
    alerts = []
    for i in range(3):
        alerts.append({
            "id": f"id{i}", "rule_name": "r1",
            "created": f"2024-01-01T00:0{i}:00.000000Z",
            "record": json.dumps({"user": "bob", "n": i}),
            "merge_by_keys": ["user"], "merge_window_mins": 1,
        })
    with open(src_dir / "a.jsonl", "w") as fh:
        for a in alerts:
            fh.write(json.dumps(a) + "\n")

    schema = ("id string, rule_name string, created string, record string, "
              "merge_by_keys array<string>, merge_window_mins bigint")
    src = spark.readStream.schema(schema).json(str(src_dir))
    merged = streaming_merge(src)
    q = (
        merged.writeStream.format("memory").queryName("merged_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        # greedy replay of 00:00, 00:01, 00:02 under a 1-minute window:
        # [00:00, 00:01] and [00:02]. The first is closed by the second and
        # emits with the data; the open one waits for the timeout, which
        # fires on a later no-data batch a window (1 minute) after.
        deadline = time.time() + 180
        seen = []
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM merged_out").collect()
            if rows and not seen:
                seen = rows
            if len(rows) >= 2:
                break
            time.sleep(5)
    finally:
        q.stop()
    assert [r["alert_count"] for r in seen] == [2]
    got = sorted((r["alert_count"], r["alert_time_first"], r["alert_time_last"])
                 for r in rows)
    assert got == [(1, "2024-01-01T00:02:00.000000Z", "2024-01-01T00:02:00.000000Z"),
                   (2, "2024-01-01T00:00:00.000000Z", "2024-01-01T00:01:00.000000Z")]
    for r in rows:
        assert json.loads(r["merged_record"])["MergedBy"] == {"user": "bob"}


def test_historical_store_roundtrip(spark, tmp_path):
    store = HistoricalStore(str(tmp_path / "store"))
    df = spark.createDataFrame(
        [("x", "2024-01-01-00"), ("y", "2024-01-01-01")],
        ["detail-type", "dt"],  # unsanitized column on purpose
    )
    store.write_batch(df, "cloudwatch:events")
    back = store.read(spark, "cloudwatch:events")
    assert "detail_type" in back.columns  # firehose.py:131-166 sanitization
    assert back.count() == 2
    # partition pruning works on dt
    assert back.filter(F.col("dt") == "2024-01-01-00").count() == 1


def test_historical_store_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across batches (the reference's Firehose output
    read by Athena against the latest Glue schema): a later batch with an
    added column must union with earlier files under merge_schema=True,
    backfilling NULL; the default read keeps the cheap single-footer
    path."""
    store = HistoricalStore(str(tmp_path / "store"))
    v1 = spark.createDataFrame([("a", "2024-01-01-00")], ["msg", "dt"])
    store.write_batch(v1, "app:log")
    v2 = spark.createDataFrame(
        [("b", 7, "2024-01-01-01")], ["msg", "severity", "dt"])
    store.write_batch(v2, "app:log")

    merged = store.read(spark, "app:log", merge_schema=True)
    assert set(merged.columns) == {"msg", "severity", "dt"}
    rows = {r["msg"]: r["severity"] for r in merged.collect()}
    assert rows == {"a": None, "b": 7}
    # partition pruning still applies to the merged read
    assert merged.filter(F.col("dt") == "2024-01-01-01").count() == 1


def test_alert_dispatcher_retry_semantics(spark, tmp_path):
    """alert_processor/main.py:76-115 — per-output success tracking."""
    attempts = {"n": 0}

    def flaky(publication, descriptor):
        attempts["n"] += 1
        return attempts["n"] > 1  # first call fails

    disp = AlertDispatcher()
    disp.register("flaky", flaky)
    disp.register("file", file_output(str(tmp_path / "out")))

    alert = {"id": "a1", "rule_name": "r", "outputs": ["flaky:x", "file:y"]}
    sent = disp.dispatch_alert(alert, set())
    assert sent == {"file:y"}          # flaky failed once
    sent = disp.dispatch_alert(alert, sent)
    assert sent == {"file:y", "flaky:x"}  # retry succeeds, file not re-sent
    assert attempts["n"] == 2
    with open(tmp_path / "out" / "y.jsonl") as fh:
        assert len(fh.readlines()) == 1


def test_publisher_composition():
    from streamalert_spark.streaming.sinks import compose_publishers

    def add_summary(alert, publication):
        publication["summary"] = f"{alert['rule_name']}!"
        return publication

    def explodes(alert, publication):
        raise RuntimeError("bad publisher")

    out = compose_publishers([add_summary, explodes], {"rule_name": "r1"})
    assert out["summary"] == "r1!"  # failing publisher skipped


def test_bucketed_store_join_has_no_shuffle(spark, tmp_path):
    """Bucketed tables co-locate their join keys at write time: a join on
    the bucket column runs with no Exchange (SURVEY §2.7 scale path)."""
    import pyspark.sql.functions as F

    from streamalert_spark.streaming.sinks import HistoricalStore

    store = HistoricalStore(str(tmp_path / "hist"))
    records = spark.range(1000).select(
        F.md5(F.col("id").cast("string")).alias("streamalert_record_id"),
        F.col("id").alias("payload"),
    )
    artifacts = spark.range(1000).select(
        F.md5(F.col("id").cast("string")).alias("streamalert_record_id"),
        F.lit("ip_address").alias("type"),
    )
    spark.sql("DROP TABLE IF EXISTS bt_records")
    spark.sql("DROP TABLE IF EXISTS bt_artifacts")
    store.write_batch_bucketed(records, "bt:records", buckets=8, dt_col=None)
    store.write_batch_bucketed(artifacts, "bt:artifacts", buckets=8, dt_col=None)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_records").join(
            spark.table("bt_artifacts"), "streamalert_record_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_records")
        spark.sql("DROP TABLE IF EXISTS bt_artifacts")


def test_streaming_merge_event_time(spark, tmp_path):
    """Event-time merge: the group emits when the WATERMARK (driven by
    later data) passes oldest-alert + window — not wall-clock."""
    from streamalert_spark.streaming.merge import streaming_merge_event_time

    src_dir = tmp_path / "alerts_et"
    src_dir.mkdir()
    schema = ("id string, rule_name string, created string, record string, "
              "merge_by_keys array<string>, merge_window_mins bigint")

    def alert(i, created, user="bob"):
        return {"id": f"id{i}", "rule_name": "r1", "created": created,
                "record": json.dumps({"user": user, "n": i}),
                "merge_by_keys": ["user"], "merge_window_mins": 1}

    with open(src_dir / "a.jsonl", "w") as fh:
        for i in range(3):
            fh.write(json.dumps(alert(i, f"2024-01-01T00:0{i}:00.000000Z")) + "\n")

    src = spark.readStream.schema(schema).json(str(src_dir))
    merged = streaming_merge_event_time(src, watermark_delay="5 minutes")
    q = (
        merged.writeStream.format("memory").queryName("merged_et")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_et"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM merged_et").count() == 0  # watermark not advanced
        # a much later alert advances the watermark past oldest+window
        with open(src_dir / "b.jsonl", "w") as fh:
            fh.write(json.dumps(alert(9, "2024-01-01T01:00:00.000000Z", user="eve")) + "\n")
        q.processAllAvailable()
        # one more batch so the new watermark is applied to the state store
        with open(src_dir / "c.jsonl", "w") as fh:
            fh.write(json.dumps(alert(10, "2024-01-01T01:01:00.000000Z", user="eve")) + "\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM merged_et").collect()
    finally:
        q.stop()
    # greedy replay under a 1-minute window: [00:00, 00:01] and [00:02];
    # eve's group is still ahead of the watermark
    got = sorted((json.loads(r["merged_record"])["AlertTimeFirst"],
                  json.loads(r["merged_record"])["AlertTimeLast"], r["alert_count"])
                 for r in rows)
    assert got == [("2024-01-01T00:00:00.000000Z", "2024-01-01T00:01:00.000000Z", 2),
                   ("2024-01-01T00:02:00.000000Z", "2024-01-01T00:02:00.000000Z", 1)]


def test_streaming_merge_survives_restart(spark, tmp_path):
    """State-store recovery: buffered groups persist across a query
    restart from the same checkpoint and still emit on watermark."""
    from streamalert_spark.streaming.merge import streaming_merge_event_time

    src_dir = tmp_path / "alerts_rs"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_rs")
    schema = ("id string, rule_name string, created string, record string, "
              "merge_by_keys array<string>, merge_window_mins bigint")

    def alert(i, created, user="bob"):
        return {"id": f"id{i}", "rule_name": "r1", "created": created,
                "record": json.dumps({"user": user, "n": i}),
                "merge_by_keys": ["user"], "merge_window_mins": 1}

    out_dir = str(tmp_path / "merged_rs")

    def start(name):
        # file sinks (unlike memory) support checkpoint recovery
        src = spark.readStream.schema(schema).json(str(src_dir))
        merged = streaming_merge_event_time(src, watermark_delay="5 minutes")
        return (merged.writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append").option("checkpointLocation", ckpt).start())

    with open(src_dir / "a.jsonl", "w") as fh:
        for i in range(3):
            fh.write(json.dumps(alert(i, f"2024-01-01T00:0{i}:00.000000Z")) + "\n")
    q = start("rs_one")
    q.processAllAvailable()
    q.stop()  # bob's group is buffered in the state store

    # new data lands while the query is down
    with open(src_dir / "b.jsonl", "w") as fh:
        fh.write(json.dumps(alert(9, "2024-01-01T01:00:00.000000Z", user="eve")) + "\n")

    q2 = start("rs_two")
    try:
        q2.processAllAvailable()
        with open(src_dir / "c.jsonl", "w") as fh:
            fh.write(json.dumps(alert(10, "2024-01-01T01:01:00.000000Z", user="eve")) + "\n")
        q2.processAllAvailable()
        rows = spark.read.parquet(out_dir).collect()
    finally:
        q2.stop()
    # both of bob's greedy groups ([00:00, 00:01] and [00:02]) come back
    # from the recovered state
    assert sorted(r["alert_count"] for r in rows) == [1, 2]
    for r in rows:
        assert json.loads(r["merged_record"])["MergedBy"] == {"user": "bob"}


def test_streaming_merge_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state-store path: the event-time merge runs unchanged on
    the RocksDB provider (recommended at high merge-key cardinality —
    state lives off-heap/on-disk instead of the executor heap)."""
    from streamalert_spark.streaming.merge import streaming_merge_event_time

    src_dir = tmp_path / "alerts_rdb"
    src_dir.mkdir()
    schema = ("id string, rule_name string, created string, record string, "
              "merge_by_keys array<string>, merge_window_mins bigint")

    def alert(i, created, user="bob"):
        return {"id": f"id{i}", "rule_name": "r1", "created": created,
                "record": json.dumps({"user": user, "n": i}),
                "merge_by_keys": ["user"], "merge_window_mins": 1}

    with open(src_dir / "a.jsonl", "w") as fh:
        for i in range(2):
            fh.write(json.dumps(alert(i, f"2024-01-01T00:0{i}:00.000000Z")) + "\n")

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try:
        src = spark.readStream.schema(schema).json(str(src_dir))
        merged = streaming_merge_event_time(src, watermark_delay="5 minutes")
        q = (merged.writeStream.format("memory").queryName("merged_rdb")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_rdb")).start())
        try:
            q.processAllAvailable()
            # advance the watermark past oldest + window, then apply it
            for name, ts in (("b", "2024-01-01T01:00:00.000000Z"),
                             ("c", "2024-01-01T01:01:00.000000Z")):
                with open(src_dir / f"{name}.jsonl", "w") as fh:
                    fh.write(json.dumps(alert(9, ts, user="eve")) + "\n")
                q.processAllAvailable()
            rows = spark.sql("SELECT * FROM merged_rdb").collect()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert len(rows) == 1 and rows[0]["alert_count"] == 2


def test_streaming_single_query_classify_rules_merge(spark, tmp_path):
    """SURVEY §3.1's composition claim, live: ONE streaming query chains
    source -> classify -> rule -> alert rows -> stateful merge; the three
    findings for one account buffer in the state store and emit as a
    single merged group when the merge window lapses."""
    from streamalert_spark.rules.registry import Rule, RuleRegistry
    from streamalert_spark.schema.registry import LogSchema, SchemaRegistry
    from streamalert_spark.streaming.merge import streaming_merge
    from streamalert_spark.streaming.pipeline import StreamingPipeline

    schemas = SchemaRegistry()
    schemas.register(LogSchema(
        name="cloudwatch:events",
        schema={
            "account": "string", "detail": {}, "detail-type": "string",
            "id": "string", "region": "string", "resources": [],
            "source": "string", "time": "string", "version": "string",
        },
    ))
    rules = RuleRegistry()
    rules.add(Rule(
        name="guard_duty_merged",
        expr=lambda rec: rec["detail-type"] == "GuardDuty Finding",
        logs=["cloudwatch:events"],
        outputs=["slack:alerts"],
        merge_by_keys=["account"],
        merge_window_mins=1,
        description="GuardDuty finding, merged per account",
    ))
    pipeline = StreamingPipeline(schemas=schemas, rules=rules, cluster="test")

    src_dir = tmp_path / "chain_src"
    src_dir.mkdir()
    with open(src_dir / "a.jsonl", "w") as fh:
        for i in range(3):
            fh.write(json.dumps(_gd_event() | {"id": f"ev{i}"}) + "\n")
        fh.write(json.dumps(_gd_event("Not A Finding")) + "\n")

    src = spark.readStream.format("text").load(str(src_dir))
    merged = streaming_merge(
        pipeline.build_alerts(src, service="kinesis", resource="stream1"))
    q = (merged.writeStream.format("memory").queryName("chain_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_chain")).start())
    try:
        deadline = time.time() + 180
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM chain_out").collect()
            if rows:
                break
            time.sleep(5)
    finally:
        q.stop()
    assert len(rows) == 1
    assert rows[0]["rule_name"] == "guard_duty_merged"
    assert rows[0]["alert_count"] == 3
    merged_rec = json.loads(rows[0]["merged_record"])
    assert merged_rec["MergedBy"] == {"account": "123456789012"}


def test_processing_time_merge_survives_restart(spark, tmp_path):
    """State-store recovery for the PROCESSING-time merge (the event-time
    twin has its own restart test above). The processing-time timeout has
    a 1-minute floor, so instead of waiting wall-clock this uses the
    50-cap emission: 49 alerts buffer before the stop, one more after the
    restart - the cap fires only if the recovered state still holds all
    49 (alert_merger/main.py:34 cap semantics)."""
    from streamalert_spark.alerts.merge import MAX_MERGE_GROUP_SIZE
    from streamalert_spark.streaming.merge import streaming_merge

    src_dir = tmp_path / "alerts_pt"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_pt")
    out_dir = str(tmp_path / "merged_pt")
    schema = ("id string, rule_name string, created string, record string, "
              "merge_by_keys array<string>, merge_window_mins bigint")

    def alert(i):
        return {"id": f"id{i}", "rule_name": "r1",
                "created": f"2024-01-01T00:00:{i % 60:02d}.{i:06d}Z",
                "record": json.dumps({"user": "bob", "n": i}),
                "merge_by_keys": ["user"], "merge_window_mins": 60}

    def start():
        src = spark.readStream.schema(schema).json(str(src_dir))
        return (streaming_merge(src).writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append").option("checkpointLocation", ckpt).start())

    def wait_for_input(q, n, deadline_s=120):
        # processAllAvailable never settles under ProcessingTimeTimeout
        # (the engine keeps scheduling no-data batches to evaluate
        # timeouts), so poll progress until n input rows are committed.
        deadline = time.time() + deadline_s
        seen = 0
        while time.time() < deadline:
            seen = sum(int(p["numInputRows"]) for p in q.recentProgress)
            if seen >= n:
                return
            time.sleep(2)
        raise AssertionError(f"only {seen}/{n} rows processed")

    with open(src_dir / "a.jsonl", "w") as fh:
        for i in range(MAX_MERGE_GROUP_SIZE - 1):
            fh.write(json.dumps(alert(i)) + "\n")
    q = start()
    wait_for_input(q, MAX_MERGE_GROUP_SIZE - 1)
    q.stop()  # 49 alerts buffered in the state store, nothing emitted

    with open(src_dir / "b.jsonl", "w") as fh:
        fh.write(json.dumps(alert(99)) + "\n")
    q2 = start()
    try:
        deadline = time.time() + 180
        rows = []
        while time.time() < deadline:
            try:
                rows = spark.read.parquet(out_dir).collect()
            except Exception:
                rows = []  # sink dir not created yet
            if rows:
                break
            time.sleep(5)
    finally:
        q2.stop()
    assert len(rows) == 1
    assert rows[0]["alert_count"] == MAX_MERGE_GROUP_SIZE
    rec = json.loads(rows[0]["merged_record"])
    assert rec["MergedBy"] == {"user": "bob"}


_MERGE_IN_SCHEMA = ("id string, rule_name string, created string, record string, "
                    "merge_by_keys array<string>, merge_window_mins bigint")
_MERGE_T0 = datetime(2024, 3, 1)


def _merge_alert(i, seconds, account, rule="r1", window=10):
    created = _MERGE_T0 + timedelta(seconds=seconds)
    return {"id": f"id{i}", "rule_name": rule,
            "created": created.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
            "record": json.dumps({"account": account, "n": i}),
            "merge_by_keys": ["account"], "merge_window_mins": window}


def _write_jsonl(path, alerts):
    with open(path, "w") as fh:
        for a in alerts:
            fh.write(json.dumps(a) + "\n")


def _replay_groups(alerts):
    """Independent model: greedy_groups per (rule, account) over the whole
    input -> Counter of (rule, account, count, first, last)."""
    from streamalert_spark.alerts.merge import ALERT_TS_PY_FMT, greedy_groups

    by_key = {}
    for a in alerts:
        key = (a["rule_name"], json.loads(a["record"])["account"])
        by_key.setdefault(key, []).append(a["created"])
    window = timedelta(minutes=alerts[0]["merge_window_mins"])
    out = Counter()
    for (rule, account), createds in by_key.items():
        times = [datetime.strptime(c, ALERT_TS_PY_FMT) for c in createds]
        for g in greedy_groups(times, window):
            out[(rule, account, len(g), min(createds[i] for i in g),
                 max(createds[i] for i in g))] += 1
    return out


def _emitted_groups(rows):
    return Counter(
        (r["rule_name"], json.loads(r["merge_values"])["account"],
         r["alert_count"], r["alert_time_first"], r["alert_time_last"])
        for r in rows)


def _last_watermark(q):
    marks = [p["eventTime"]["watermark"] for p in q.recentProgress
             if "watermark" in p.get("eventTime", {})]
    return max(datetime.strptime(m, "%Y-%m-%dT%H:%M:%S.%fZ") for m in marks)


def test_event_time_merge_emits_group_behind_watermark(spark, tmp_path):
    """A key whose buffered group falls behind the watermark in the same
    micro-batch that brings it new data: the behind group is emitted there
    and then (its timeout could no longer be set), and the new alert, which
    is outside the first one's window, starts a group of its own."""
    from streamalert_spark.streaming.merge import streaming_merge_event_time

    src_dir = tmp_path / "three_in"
    src_dir.mkdir()
    files = [
        [_merge_alert(0, 0, "rare"), _merge_alert(1, 1, "filler")],
        [_merge_alert(2 + s, 100 + s * 100, "filler") for s in range(7)],
        # rare at 701 s, plus filler far enough ahead to pass rare's second window
        [_merge_alert(20, 701, "rare"), _merge_alert(21, 1500, "filler")],
    ]
    for f, alerts in enumerate(files):
        _write_jsonl(src_dir / f"f{f}.jsonl", alerts)
        # the file source takes files oldest-modified first: pin the order
        os.utime(src_dir / f"f{f}.jsonl", (1_700_000_000 + f, 1_700_000_000 + f))

    src = (spark.readStream.schema(_MERGE_IN_SCHEMA)
           .option("maxFilesPerTrigger", 1).json(str(src_dir)))
    merged = streaming_merge_event_time(src, watermark_delay="1 minute")
    q = (merged.writeStream.format("memory").queryName("merged_three")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_three"))
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(180)
        assert q.exception() is None
        rows = spark.sql("SELECT * FROM merged_three WHERE merge_values LIKE '%rare%'").collect()
    finally:
        q.stop()
    got = sorted((r["alert_count"], r["alert_time_first"]) for r in rows)
    assert got == [(1, "2024-03-01T00:00:00.000000Z"),
                   (1, "2024-03-01T00:11:41.000000Z")]


def test_event_time_merge_backlog_matches_greedy_replay(spark, tmp_path):
    """A drained backlog of ~2k alerts (Zipf-skewed accounts, ~1 s apart,
    10-minute window) read two files per micro-batch with a 1-minute
    watermark delay: the query finishes, and its groups are exactly the
    greedy replay's groups that are full or behind the last watermark."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamalert_spark.alerts.merge import MAX_MERGE_GROUP_SIZE
    from streamalert_spark.streaming.merge import streaming_merge_event_time

    rng = random.Random(1)
    weights = [1.0 / k ** 1.1 for k in range(1, 201)]
    accounts = rng.choices([f"acct{k:03d}" for k in range(200)], weights, k=2000)
    alerts = [_merge_alert(i, i + rng.random() * 0.5, acct)
              for i, acct in enumerate(accounts)]
    src_dir = tmp_path / "backlog_in"
    src_dir.mkdir()
    schema = pa.schema([("id", pa.string()), ("rule_name", pa.string()),
                        ("created", pa.string()), ("record", pa.string()),
                        ("merge_by_keys", pa.list_(pa.string())),
                        ("merge_window_mins", pa.int64())])
    for f in range(20):
        path = str(src_dir / f"part-{f:02d}.parquet")
        pq.write_table(pa.Table.from_pylist(alerts[f * 100:(f + 1) * 100], schema=schema), path)
        # the file source takes files oldest-modified first: pin the order
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))

    src = (spark.readStream.schema(_MERGE_IN_SCHEMA)
           .option("maxFilesPerTrigger", 2).parquet(str(src_dir)))
    merged = streaming_merge_event_time(src, watermark_delay="1 minute")
    q = (merged.writeStream.format("memory").queryName("merged_backlog")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_backlog"))
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(300)
        assert q.exception() is None
        rows = spark.sql("SELECT * FROM merged_backlog").collect()
        watermark = _last_watermark(q)
    finally:
        q.stop()

    replay = _replay_groups(alerts)
    emitted = _emitted_groups(rows)
    assert max(emitted.values()) == 1                      # none emitted twice
    assert not emitted - replay                            # all are replay groups
    due = [g for g in replay
           if g[2] >= MAX_MERGE_GROUP_SIZE
           or datetime.strptime(g[3], "%Y-%m-%dT%H:%M:%S.%fZ")
           + timedelta(minutes=10) <= watermark]
    assert len(due) > 100
    assert not [g for g in due if g not in emitted]


def test_processing_time_merge_emits_closed_groups_of_active_key(spark, tmp_path):
    """A key that gets an alert every third of its window never reaches its
    processing-time timeout, yet its closed groups (followed by a later
    group, not full) are emitted while it is still active."""
    from streamalert_spark.streaming.merge import streaming_merge

    src_dir = tmp_path / "active_in"
    src_dir.mkdir()
    # 12 alerts 200 s apart, 10-minute window: greedy groups of 4
    alerts = [_merge_alert(i, i * 200, "busy") for i in range(12)]
    for f in range(4):
        path = src_dir / f"f{f}.jsonl"
        _write_jsonl(path, alerts[f * 3:(f + 1) * 3])
        # the file source takes files oldest-modified first: pin the order
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))

    src = (spark.readStream.schema(_MERGE_IN_SCHEMA)
           .option("maxFilesPerTrigger", 1).json(str(src_dir)))
    q = (streaming_merge(src).writeStream.format("memory").queryName("active_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_active")).start())
    try:
        # processAllAvailable never settles under ProcessingTimeTimeout, so
        # poll progress until every input row is committed; the 10-minute
        # timeout cannot fire within the test
        deadline = time.time() + 180
        while time.time() < deadline:
            if sum(int(p["numInputRows"]) for p in q.recentProgress) >= len(alerts):
                break
            time.sleep(2)
        rows = spark.sql("SELECT * FROM active_out").collect()
    finally:
        q.stop()
    assert sorted((r["alert_count"], r["alert_time_first"]) for r in rows) == [
        (4, "2024-03-01T00:00:00.000000Z"), (4, "2024-03-01T00:13:20.000000Z")]


def test_batch_and_streaming_merges_agree(spark, tmp_path):
    """One merge, one answer: merge_alerts_batch, streaming_merge (after
    its timeout) and streaming_merge_event_time (after the watermark
    passes) give the same merged rows on a fixture that spans several
    windows and holds a 51-alert burst. Rules with no merge window (0 or
    NULL) merge over one minute in both streaming modes."""
    from streamalert_spark.alerts.merge import merge_alerts_batch
    from streamalert_spark.streaming.merge import (
        streaming_merge, streaming_merge_event_time,
    )

    fixture = [_merge_alert(i, i, "alice", window=1) for i in range(51)]
    fixture += [_merge_alert(51 + i, s, "alice", window=1)
                for i, s in enumerate((70, 100, 200, 330))]
    fixture += [_merge_alert(60 + i, s, "bob", window=1)
                for i, s in enumerate((10.5, 65.5, 130.5))]
    fixture += [_merge_alert(70, 20.25, "bob", rule="r2", window=1)]
    pt_dir, et_dir = tmp_path / "pt_in", tmp_path / "et_in"
    pt_dir.mkdir()
    et_dir.mkdir()
    # not given to merge_alerts_batch, which groups over the raw window
    no_window = [_merge_alert(80 + i, s, "carol", rule=rule, window=window)
                 for rule, window in (("r0", 0), ("rnull", None))
                 for i, s in enumerate((0, 30, 59, 61, 90))]
    for d in (pt_dir, et_dir):
        _write_jsonl(d / "a.jsonl", fixture)
        _write_jsonl(d / "no_window.jsonl", no_window)

    def full_rows(rows, windowed=True):
        return Counter(tuple(r) for r in rows
                       if (r["rule_name"] not in ("r0", "rnull")) == windowed)

    pt = (streaming_merge(spark.readStream.schema(_MERGE_IN_SCHEMA).json(str(pt_dir)))
          .writeStream.format("memory").queryName("agree_pt").outputMode("append")
          .option("checkpointLocation", str(tmp_path / "ckpt_pt")).start())
    try:
        batch = full_rows(merge_alerts_batch(
            spark.read.schema(_MERGE_IN_SCHEMA).json(str(pt_dir / "a.jsonl"))).collect())
        assert sorted(k[2] for k in batch.elements()) == [1, 1, 1, 1, 2, 3, 50]

        et_src = spark.readStream.schema(_MERGE_IN_SCHEMA).json(str(et_dir))
        et = (streaming_merge_event_time(et_src, watermark_delay="1 minute")
              .writeStream.format("memory").queryName("agree_et").outputMode("append")
              .option("checkpointLocation", str(tmp_path / "ckpt_et")).start())
        try:
            et.processAllAvailable()
            # a later sentinel rule advances the watermark past every group;
            # one more batch applies it
            for name, s in (("b", 3600), ("c", 3601)):
                _write_jsonl(et_dir / f"{name}.jsonl",
                             [_merge_alert(99, s, "zed", rule="sentinel", window=1)])
                et.processAllAvailable()
            et_rows = spark.sql(
                "SELECT * FROM agree_et WHERE rule_name != 'sentinel'").collect()
        finally:
            et.stop()

        deadline = time.time() + 240
        pt_rows = []
        while time.time() < deadline:
            pt_rows = spark.sql("SELECT * FROM agree_pt").collect()
            if len(pt_rows) >= sum(batch.values()) + 4:
                break
            time.sleep(5)
    finally:
        pt.stop()
    assert full_rows(et_rows) == batch
    assert full_rows(pt_rows) == batch
    no_window_groups = full_rows(et_rows, windowed=False)
    assert no_window_groups == full_rows(pt_rows, windowed=False)
    # one-minute greedy groups of 0, 30, 59, 61, 90 s: [0, 30, 59], [61, 90]
    assert sorted((k[0], k[2]) for k in no_window_groups.elements()) == [
        ("r0", 2), ("r0", 3), ("rnull", 2), ("rnull", 3)]


def test_streaming_dedupe_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one copy of a key re-delivered
    in a later micro-batch (bounded state, watermark eviction)."""
    from streamalert_spark.streaming.dedupe import dedupe_stream

    src_dir = tmp_path / "dedupe_in"
    src_dir.mkdir()
    rows1 = [
        {"event_id": "e1", "ts": "2024-01-01T00:00:00.000Z", "v": 1},
        {"event_id": "e2", "ts": "2024-01-01T00:01:00.000Z", "v": 2},
        {"event_id": "e1", "ts": "2024-01-01T00:00:00.000Z", "v": 1},
    ]
    with open(src_dir / "b1.jsonl", "w") as fh:
        for r in rows1:
            fh.write(json.dumps(r) + "\n")

    schema = "event_id string, ts timestamp, v bigint"
    src = spark.readStream.schema(schema).json(str(src_dir))
    deduped = dedupe_stream(src, ["event_id"], ts_col="ts",
                            watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory").queryName("dedupe_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedupe"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second micro-batch re-delivers e2 (within watermark) + new e3
        rows2 = [
            {"event_id": "e2", "ts": "2024-01-01T00:01:00.000Z", "v": 2},
            {"event_id": "e3", "ts": "2024-01-01T00:02:00.000Z", "v": 3},
        ]
        with open(src_dir / "b2.jsonl", "w") as fh:
            for r in rows2:
                fh.write(json.dumps(r) + "\n")
        q.processAllAvailable()
        out = spark.sql("SELECT event_id FROM dedupe_out").collect()
    finally:
        q.stop()
    seen = sorted(r["event_id"] for r in out)
    assert seen == ["e1", "e2", "e3"]


def test_streaming_dedupe_requires_keys(spark):
    from streamalert_spark.streaming.dedupe import dedupe_stream

    with pytest.raises(ValueError):
        dedupe_stream(spark.range(1), [])


def test_streaming_session_window(spark, tmp_path):
    """Native session_window under Structured Streaming: closed sessions
    emit in append mode once the watermark passes session end + gap."""
    src_dir = tmp_path / "sess_in"
    src_dir.mkdir()
    rows1 = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z"},
        {"user_id": 1, "ts": "2024-01-01T00:10:00.000Z"},
        {"user_id": 2, "ts": "2024-01-01T00:05:00.000Z"},
    ]
    with open(src_dir / "s1.jsonl", "w") as fh:
        for r in rows1:
            fh.write(json.dumps(r) + "\n")
    schema = "user_id bigint, ts timestamp"
    src = spark.readStream.schema(schema).json(str(src_dir))
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events")
    )
    q = (
        agg.writeStream.format("memory").queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past both sessions' ends
        with open(src_dir / "s2.jsonl", "w") as fh:
            fh.write(json.dumps(
                {"user_id": 3, "ts": "2024-01-01T02:00:00.000Z"}) + "\n")
        q.processAllAvailable()
        # one more batch so the new watermark closes the old sessions
        with open(src_dir / "s3.jsonl", "w") as fh:
            fh.write(json.dumps(
                {"user_id": 3, "ts": "2024-01-01T02:00:01.000Z"}) + "\n")
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM sess_out").collect()
    finally:
        q.stop()
    got = {(r["user_id"], r["n_events"]) for r in out}
    assert (1, 2) in got   # user 1's two events merged into one session
    assert (2, 1) in got


def test_first_seen_transform_with_state(spark, tmp_path):
    """First-seen detector: a key re-arriving in a later micro-batch
    stays suppressed (applyInPandasWithState boolean state; run on the
    RocksDB provider like the stateful merge to mirror production)."""
    from streamalert_spark.streaming.first_seen import first_seen
    ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                        "RocksDBStateStoreProvider")

    src_dir = tmp_path / "fs_in"
    src_dir.mkdir()
    rows1 = [
        {"user": "alice", "device": "d1", "ts": "2024-01-01T00:00:05.000Z"},
        {"user": "alice", "device": "d1", "ts": "2024-01-01T00:00:01.000Z"},
        {"user": "bob", "device": "d2", "ts": "2024-01-01T00:01:00.000Z"},
    ]
    with open(src_dir / "f1.jsonl", "w") as fh:
        for r in rows1:
            fh.write(json.dumps(r) + "\n")

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        schema = "user string, device string, ts timestamp"
        src = spark.readStream.schema(schema).json(str(src_dir))
        out = first_seen(src, ["user", "device"], ts_col="ts")
        q = (out.writeStream.format("memory").queryName("fs_out")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_fs")).start())
        try:
            q.processAllAvailable()
            rows2 = [
                {"user": "alice", "device": "d1",
                 "ts": "2024-01-01T00:05:00.000Z"},   # suppressed
                {"user": "alice", "device": "d3",
                 "ts": "2024-01-01T00:06:00.000Z"},   # new device -> emit
            ]
            with open(src_dir / "f2.jsonl", "w") as fh:
                for r in rows2:
                    fh.write(json.dumps(r) + "\n")
            q.processAllAvailable()
            got = spark.sql(
                "SELECT user, device, CAST(ts AS STRING) AS ts FROM fs_out"
            ).collect()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    seen = {(r["user"], r["device"]): r["ts"] for r in got}
    assert set(seen) == {("alice", "d1"), ("bob", "d2"), ("alice", "d3")}
    # earliest row of the first batch won, not the first-in-file one
    assert seen[("alice", "d1")].startswith("2024-01-01 00:00:01")


def test_stream_stream_join_time_bounded(spark, tmp_path):
    """Stream-stream inner join with watermarks + event-time range: only
    context rows within [alert_ts, alert_ts + 10 min] attach, including
    across micro-batches."""
    from streamalert_spark.streaming.join import stream_stream_join

    a_dir = tmp_path / "ssj_alerts"
    c_dir = tmp_path / "ssj_ctx"
    a_dir.mkdir(); c_dir.mkdir()
    with open(a_dir / "a1.jsonl", "w") as fh:
        fh.write(json.dumps({"user": "u1", "alert_id": 1,
                             "a_ts": "2024-01-01T00:00:00.000Z"}) + "\n")
    with open(c_dir / "c1.jsonl", "w") as fh:
        for ts, cid in (("2024-01-01T00:05:00.000Z", 10),   # in range
                        ("2024-01-01T00:20:00.000Z", 11)):  # out of range
            fh.write(json.dumps({"user": "u1", "ctx_id": cid,
                                 "c_ts": ts}) + "\n")

    alerts = spark.readStream.schema(
        "user string, alert_id bigint, a_ts timestamp").json(str(a_dir))
    ctx = spark.readStream.schema(
        "user string, ctx_id bigint, c_ts timestamp").json(str(c_dir))
    joined = stream_stream_join(
        alerts, ctx, on=alerts["user"] == ctx["user"],
        left_ts="a_ts", right_ts="c_ts",
        left_watermark="30 minutes", right_watermark="30 minutes",
        range_after="10 minutes",
    ).select("alert_id", "ctx_id")
    q = (joined.writeStream.format("memory").queryName("ssj_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ssj")).start())
    try:
        q.processAllAvailable()
        # second micro-batch: one more in-range context row
        with open(c_dir / "c2.jsonl", "w") as fh:
            fh.write(json.dumps({"user": "u1", "ctx_id": 12,
                                 "c_ts": "2024-01-01T00:09:00.000Z"}) + "\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ssj_out").collect()
    finally:
        q.stop()
    got = sorted((r["alert_id"], r["ctx_id"]) for r in rows)
    assert got == [(1, 10), (1, 12)]


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow: the batch-backfill mode — process everything
    currently in the source, then terminate on its own (the way a
    historical catch-up run drains a backlog through the SAME streaming
    query, checkpoint-compatible with the live run)."""
    src_dir = tmp_path / "an_in"
    src_dir.mkdir()
    with open(src_dir / "a.jsonl", "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"k": f"k{i}", "v": i}) + "\n")
    src = spark.readStream.schema("k string, v bigint").json(str(src_dir))
    q = (
        src.groupBy("k").count()
        .writeStream.format("memory").queryName("an_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_an"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive  # drained and self-terminated
    rows = spark.sql("SELECT * FROM an_out").collect()
    assert len(rows) == 5 and all(r["count"] == 1 for r in rows)


def test_streaming_rate_threshold_alerts(spark, tmp_path):
    """Rate-based alerting under Structured Streaming: a key that crosses
    the per-window count threshold emits EXACTLY ONE alert row when the
    watermark closes its window; quiet keys emit nothing; late-but-
    within-watermark events still count."""
    from streamalert_spark.streaming.spikes import rate_threshold_alerts

    src_dir = tmp_path / "rate_in"
    src_dir.mkdir()
    # burst: key "a" gets 5 events in hour 0; key "b" only 2
    rows = [{"k": "a", "ts": f"2024-01-01T00:0{i}:00.000Z"} for i in range(5)]
    rows += [{"k": "b", "ts": "2024-01-01T00:01:00.000Z"},
             {"k": "b", "ts": "2024-01-01T00:02:00.000Z"}]
    with open(src_dir / "r1.jsonl", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    src = spark.readStream.schema("k string, ts timestamp").json(str(src_dir))
    alerts = rate_threshold_alerts(src, "k", "ts", window="1 hour",
                                   watermark="10 minutes", threshold=5)
    q = (
        alerts.writeStream.format("memory").queryName("rate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    try:
        q.processAllAvailable()
        # nothing emits while the window is open
        assert spark.sql("SELECT * FROM rate_out").count() == 0
        # advance the watermark past hour 0 + 10min to close the window
        with open(src_dir / "r2.jsonl", "w") as fh:
            fh.write(json.dumps(
                {"k": "c", "ts": "2024-01-01T02:00:00.000Z"}) + "\n")
        q.processAllAvailable()
        with open(src_dir / "r3.jsonl", "w") as fh:
            fh.write(json.dumps(
                {"k": "c", "ts": "2024-01-01T02:00:01.000Z"}) + "\n")
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM rate_out").collect()
    finally:
        q.stop()
    assert len(out) == 1
    assert out[0]["k"] == "a" and out[0]["cnt"] == 5
    assert out[0]["window_start"].hour == 0


def test_streaming_threat_intel_stream_static_join(spark, tmp_path):
    """Stream-static enrichment: the IOC table is a STATIC broadcast side
    joined into a streaming classify->normalize->annotate->rule plan —
    Structured Streaming replans it per micro-batch, so IOC refresh means
    swapping the static frame, no query restart (rules_engine.py:480-481
    placement: between normalization and rules)."""
    from streamalert_spark.enrich.threat_intel import ThreatIntel
    from streamalert_spark.normalize.normalizer import (
        NormalizationSpec, Normalizer, PathSpec,
    )

    schemas = SchemaRegistry()
    schemas.register(LogSchema(
        name="app:conn", schema={"event_id": "string", "src": "string"},
    ))
    rules = RuleRegistry()
    rules.add(Rule(
        name="ioc_hit",
        expr=lambda rec: F.col("streamalert_ioc").isNotNull()
                         & (F.size("streamalert_ioc") > 0),
        logs=["app:conn"],
        outputs=["slack:alerts"],
        description="any threat-intel match",
    ))
    ioc = spark.createDataFrame(
        [("1.2.3.4", "mal_ip")], "ioc_value string, sub_type string")
    pipeline = StreamingPipeline(
        schemas=schemas, rules=rules,
        normalizers={"app:conn": Normalizer(NormalizationSpec(types={
            "ip_address": [PathSpec(path="src")],
        }))},
        threat_intel=ThreatIntel(ioc, {"ip": ["ip_address"]}),
        cluster="test",
    )

    src_dir = tmp_path / "ti_src"
    src_dir.mkdir()
    with open(src_dir / "b1.jsonl", "w") as fh:
        fh.write(json.dumps({"event_id": "e1", "src": "1.2.3.4"}) + "\n")   # IOC
        fh.write(json.dumps({"event_id": "e2", "src": "8.8.8.8"}) + "\n")   # clean

    # the single-query plan must refuse loudly: the hit-map aggregation
    # cannot plan mid-stream in append mode
    src = spark.readStream.format("text").load(str(src_dir))
    with pytest.raises(ValueError, match="foreach_batch"):
        pipeline.build_alerts(src, service="kinesis", resource="s1")

    q = pipeline.run_stream_foreach_batch(
        spark, str(src_dir), str(tmp_path / "ti_ckpt"),
        str(tmp_path / "ti_alerts"),
        service="kinesis", resource="s1", available_now=True,
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "ti_alerts")).collect()
    assert len(rows) == 1
    assert rows[0]["rule_name"] == "ioc_hit"
    assert json.loads(rows[0]["record"])["event_id"] == "e1"


def test_foreach_batch_reads_each_line_once_and_matches_batch(spark, tmp_path):
    """run_stream_foreach_batch persists the micro-batch and each
    normalized frame: a K-line file is scanned once (sum of numInputRows ==
    K) although several log types, Python rules and the IOC self-join
    read it, and its alerts equal build_alerts over a batch read."""
    from collections import Counter

    from streamalert_spark.enrich.threat_intel import ThreatIntel

    schemas = SchemaRegistry()
    schemas.register(LogSchema(
        name="app:conn", schema={"event_id": "string", "src": "string"}))
    schemas.register(LogSchema(
        name="app:auth", schema={"user": "string", "ok": "boolean"}))
    rules = RuleRegistry()
    rules.add(Rule(
        name="ioc_hit", logs=["app:conn"], outputs=["slack:alerts"],
        expr=lambda rec: F.col("streamalert_ioc").isNotNull()))
    rules.add(Rule(name="odd_event", logs=["app:conn"], outputs=["slack:alerts"],
                   process=lambda r: int(r["event_id"][1:]) % 2 == 1))
    rules.add(Rule(name="raises", logs=["app:conn"], outputs=["slack:alerts"],
                   process=lambda r: r["missing"]))
    rules.add(Rule(name="failed_login", logs=["app:auth"], outputs=["slack:alerts"],
                   process=lambda r: not r["ok"]))
    rules.add(Rule(name="root_user", logs=["app:auth"], outputs=["slack:alerts"],
                   expr=lambda rec: rec["user"] == "root"))
    ioc = spark.createDataFrame(
        [("1.2.3.4", "mal_ip")], "ioc_value string, sub_type string")
    pipeline = StreamingPipeline(
        schemas=schemas, rules=rules,
        normalizers={"app:conn": Normalizer(NormalizationSpec(types={
            "ip_address": [PathSpec(path="src")],
        }))},
        threat_intel=ThreatIntel(ioc, {"ip": ["ip_address"]}),
        cluster="test",
    )

    src_dir = tmp_path / "once_src"
    src_dir.mkdir()
    lines = (
        [{"event_id": f"e{i}", "src": "1.2.3.4" if i % 3 == 0 else "8.8.8.8"}
         for i in range(6)]
        + [{"user": u, "ok": ok} for u, ok in
           [("root", True), ("bob", False), ("root", False), ("amy", True)]]
        + [{"unrelated": "shape"}]
    )
    with open(src_dir / "b1.jsonl", "w") as fh:
        fh.write("".join(json.dumps(x) + "\n" for x in lines))

    q = pipeline.run_stream_foreach_batch(
        spark, str(src_dir), str(tmp_path / "once_ckpt"), str(tmp_path / "once_alerts"),
        service="kinesis", resource="s1", available_now=True)
    q.awaitTermination(120)
    assert q.exception() is None
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(lines)

    def multiset(df):
        return Counter((r["rule_name"], r["record"]) for r in df.collect())

    streamed = multiset(spark.read.parquet(str(tmp_path / "once_alerts")))
    batch = multiset(pipeline.build_alerts(
        spark.read.text(str(src_dir)), service="kinesis", resource="s1"))
    assert streamed == batch
    assert Counter(rule for rule, _ in streamed.elements()) == Counter(
        {"ioc_hit": 2, "odd_event": 3, "failed_login": 2, "root_user": 2})


def test_late_data_drop_accounting(spark, tmp_path):
    """The stream_late_data_bounded scenario's drop count, pinned via
    the engine's own numRowsDroppedByWatermark metric: exactly the two
    late rows whose windows were already evicted are dropped; the
    late-but-live row is not."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batches = [
        ("a.parquet", list(range(1, 151)), 1_000_000),
        ("b.parquet", list(range(151, 211)), 1_000_010),
        ("c.parquet", list(range(211, 271)) + [55, 100, 130], 1_000_020),
    ]
    for name, ts, mtime in batches:
        path = str(in_dir / name)
        pq.write_table(pa.table({"t": ts}), path)
        os.utime(path, (mtime, mtime))
    src = (
        spark.readStream.schema("t bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
        .select(F.timestamp_seconds("t").alias("ts"))
    )
    agg = (
        src.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "1 minute"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
    finally:
        q.stop()
    assert dropped == 2


def test_cep_run_spans_micro_batch_boundary(spark, tmp_path):
    """A failure run whose errors arrive in batch 0 and whose success
    arrives in batch 1 must match (state carries the run); an
    intervening non-failure event in the later batch must reset it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamalert_spark.streaming.bounded import run_bounded_to_rows
    from streamalert_spark.streaming.cep import OUT_SCHEMA, pattern_match_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # user 1: error,error | purchase         -> match across boundary
    # user 2: error,error | view, purchase   -> reset kills it
    # user 3: error       | error, purchase  -> run builds across boundary
    b0 = {"user_id": [1, 1, 2, 2, 3],
          "event_id": [10, 11, 20, 21, 30],
          "event_type": ["error", "error", "error", "error", "error"],
          "es": [100, 110, 100, 110, 100]}
    b1 = {"user_id": [1, 2, 2, 3, 3],
          "event_id": [12, 22, 23, 31, 32],
          "event_type": ["purchase", "view", "purchase", "error",
                         "purchase"],
          "es": [200, 200, 210, 200, 300]}
    for i, data in enumerate([b0, b1]):
        path = str(in_dir / f"b{i}.parquet")
        pq.write_table(pa.table(data), path)
        os.utime(path, (1_000_000 + 10 * i,) * 2)
    src = (
        spark.readStream
        .schema("user_id bigint, event_id bigint, event_type string, "
                "es bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    rows = run_bounded_to_rows(
        spark, pattern_match_stream(src), OUT_SCHEMA)
    got = sorted(tuple(r) for r in rows.collect())
    assert got == [(1, 2, 100, 110, 200), (3, 2, 100, 200, 300)]


def _cep_batches(tmp_path, batches):
    """Write per-batch parquet files with increasing mtimes; return a
    maxFilesPerTrigger=1 file-stream source over them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    in_dir = tmp_path / "cep_in"
    in_dir.mkdir()
    for i, data in enumerate(batches):
        path = str(in_dir / f"b{i}.parquet")
        pq.write_table(pa.table(data), path)
        os.utime(path, (1_000_000 + 10 * i,) * 2)
    return in_dir


def _run_cep_collect_state(spark, df, work):
    """Drain a bounded CEP stream; return (sorted rows, final state-store
    row count from the query's lastProgress)."""
    from streamalert_spark.streaming.bounded import bounded_stream_shuffle

    with bounded_stream_shuffle(spark):
        q = (
            df.writeStream.format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            # settle: the timeout-firing no-data batch is normally inside
            # processAllAvailable, but don't race it
            state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
            for _ in range(20):
                lp = q.lastProgress
                nxt = lp["stateOperators"][0]["numRowsTotal"]
                if nxt == state_rows and lp["numInputRows"] == 0:
                    break
                state_rows = nxt
                time.sleep(0.25)
        finally:
            q.stop()
    from streamalert_spark.streaming.cep import OUT_SCHEMA

    rows = spark.read.schema(OUT_SCHEMA).parquet(f"{work}/out").collect()
    return sorted(tuple(r) for r in rows), state_rows


def test_cep_dead_keys_leave_no_state(spark, tmp_path):
    """Keys whose run reset (matched or broken) must leave NO state row —
    the 100-TB property: state tracks live runs, not lifetime keys."""
    from streamalert_spark.streaming.cep import pattern_match_stream

    in_dir = _cep_batches(tmp_path, [
        {"user_id": [1, 1, 2, 3, 3],
         "event_id": [10, 11, 20, 30, 31],
         "event_type": ["error"] * 5,
         "es": [100, 110, 100, 100, 110]},
        # user 1 matches (reset -> removed), user 2 breaks (removed),
        # user 3 stays a live run (the ONLY state row left)
        {"user_id": [1, 2, 3],
         "event_id": [12, 21, 32],
         "event_type": ["purchase", "view", "error"],
         "es": [200, 200, 200]},
    ])
    src = (
        spark.readStream
        .schema("user_id bigint, event_id bigint, event_type string, "
                "es bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    got, state_rows = _run_cep_collect_state(
        spark, pattern_match_stream(src), str(tmp_path / "w1"))
    assert got == [(1, 2, 100, 110, 200)]
    assert state_rows == 1


def test_cep_ordered_out_of_order_input(spark, tmp_path):
    """The watermark-staged variant: per-key rows arrive OUT of event-time
    order across micro-batches yet match exactly what in-order CEP (and
    the batch oracle) produce; all state is evicted once runs resolve."""
    from streamalert_spark.streaming.cep import pattern_match_stream_ordered

    in_dir = _cep_batches(tmp_path, [
        # user 1's SUCCESS arrives before its failures; user 2 interleaved
        {"user_id": [1, 2],
         "event_id": [12, 20],
         "event_type": ["purchase", "error"],
         "es": [200, 100]},
        {"user_id": [1, 1, 2, 2],
         "event_id": [10, 11, 21, 22],
         "event_type": ["error", "error", "error", "purchase"],
         "es": [100, 110, 110, 210]},
        # sentinel advances the watermark past every buffered row + horizon
        {"user_id": [99], "event_id": [1],
         "event_type": ["view"], "es": [500000]},
    ])
    src = (
        spark.readStream
        .schema("user_id bigint, event_id bigint, event_type string, "
                "es bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    out = pattern_match_stream_ordered(
        src, horizon_s=1000, watermark_delay="1000 seconds")
    got, state_rows = _run_cep_collect_state(
        spark, out, str(tmp_path / "w2"))
    assert got == [(1, 2, 100, 110, 200), (2, 2, 100, 110, 210)]
    # users 1 and 2 resolved -> evicted; the single remaining row is the
    # sentinel's own buffered event (with delay > 0 the stream's LAST
    # event can never pass the watermark — inherent to finite demos)
    assert state_rows == 1


def test_cep_ordered_expired_run_evicted(spark, tmp_path):
    """A live run whose success horizon the watermark has passed can never
    match — its state row must be removed by the event-time timeout."""
    from streamalert_spark.streaming.cep import pattern_match_stream_ordered

    in_dir = _cep_batches(tmp_path, [
        {"user_id": [5, 5],
         "event_id": [50, 51],
         "event_type": ["error", "error"],
         "es": [100, 110]},
        # sentinel: watermark -> 900000-1000 >> 110 + horizon(50)
        {"user_id": [99], "event_id": [1],
         "event_type": ["view"], "es": [900000]},
    ])
    src = (
        spark.readStream
        .schema("user_id bigint, event_id bigint, event_type string, "
                "es bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    out = pattern_match_stream_ordered(
        src, horizon_s=50, watermark_delay="1000 seconds")
    got, state_rows = _run_cep_collect_state(
        spark, out, str(tmp_path / "w3"))
    assert got == []
    # user 5's expired run was evicted by the event-time timeout; the one
    # remaining row is the sentinel's own un-flushable buffered event
    assert state_rows == 1


def _decay_write_batch(spark, in_dir, name, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["k", "seq", "h", "v"])
    (spark.createDataFrame(pdf.astype("int64"))
     .coalesce(1).write.parquet(str(in_dir / name)))


def _decay_src(spark, in_dir):
    return (
        spark.readStream
        .schema("k bigint, seq bigint, h bigint, v bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir / "*"))
    )


def test_decayed_counters_match_batch_fold(spark, tmp_path):
    """The streamed per-key score equals the one-shot Python fold of the
    full history — the nested-floor identity the DuckDB oracle also
    relies on. NoTimeout: state rows persist for both keys."""
    from streamalert_spark.streaming.bounded import bounded_stream_shuffle
    from streamalert_spark.streaming.decay import decayed_counters_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _decay_write_batch(spark, in_dir, "b0",
                       [(1, 1, 0, 3), (1, 2, 2, 5), (2, 3, 0, 7)])
    _decay_write_batch(spark, in_dir, "b1", [(1, 4, 3, 2)])
    out = decayed_counters_stream(_decay_src(spark, in_dir))
    led = []

    def sink(batch_df, epoch_id):
        led.extend((r["k"], r["last_h"], r["score_fp"])
                   for r in batch_df.collect())

    with bounded_stream_shuffle(spark):
        q = (out.writeStream.foreachBatch(sink)
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .start())
        try:
            q.processAllAvailable()
            state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        finally:
            q.stop()

    # batch fold of key 1's full history: (0,3) (2,5) (3,2)
    s = 3 * 1_000_000
    s = (s >> 2) + 5 * 1_000_000
    s = (s >> 1) + 2 * 1_000_000
    latest = {}
    for k, last_h, score in led:
        latest[k] = (last_h, score)
    assert latest[1] == (3, s)
    assert latest[2] == (0, 7_000_000)
    assert state_rows == 2  # NoTimeout: both keys keep their score row


def test_decayed_counters_ttl_evicts_idle_keys(spark, tmp_path):
    """With idle_ttl_s set, keys quiet past the TTL lose their state row
    (their score has decayed to ~0 by construction when the TTL spans
    enough half-lives); a fresh key arriving later is the only row left.
    processAllAvailable never settles under ProcessingTimeTimeout, so
    progress is polled — same pattern as the processing-time merge test."""
    from streamalert_spark.streaming.bounded import bounded_stream_shuffle
    from streamalert_spark.streaming.decay import decayed_counters_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def wait_for_input(q, n, deadline_s=120):
        deadline = time.time() + deadline_s
        seen = 0
        while time.time() < deadline:
            seen = sum(int(p["numInputRows"]) for p in q.recentProgress)
            if seen >= n:
                return
            time.sleep(1)
        raise AssertionError(f"only {seen}/{n} rows processed")

    def wait_for_state_rows(q, n, deadline_s=60):
        deadline = time.time() + deadline_s
        last = None
        while time.time() < deadline:
            lp = q.lastProgress
            if lp and lp.get("stateOperators"):
                last = lp["stateOperators"][0]["numRowsTotal"]
                if last == n:
                    return last
            time.sleep(1)
        return last

    _decay_write_batch(spark, in_dir, "b0",
                       [(1, 1, 0, 3), (2, 2, 0, 7)])
    out = decayed_counters_stream(_decay_src(spark, in_dir), idle_ttl_s=2)
    with bounded_stream_shuffle(spark):
        q = (out.writeStream.foreachBatch(lambda df, eid: df.collect())
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .start())
        try:
            wait_for_input(q, 2)
            time.sleep(3)  # keys 1 and 2 idle past the 2s TTL
            _decay_write_batch(spark, in_dir, "b1", [(3, 3, 1, 1)])
            wait_for_input(q, 3)
            state_rows = wait_for_state_rows(q, 1)
        finally:
            q.stop()
    assert state_rows == 1  # only the fresh key survives


def test_decayed_counters_state_survives_restart(spark, tmp_path):
    """Checkpoint recovery: stop the query after batch 1, restart on the
    same checkpoint, feed batch 2 — the final score must equal the fold
    of the FULL history, proving (last_h, score) round-trips the state
    store across restarts."""
    from streamalert_spark.streaming.bounded import bounded_stream_shuffle
    from streamalert_spark.streaming.decay import decayed_counters_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    led = []

    def sink(batch_df, epoch_id):
        led.extend((r["k"], r["last_h"], r["score_fp"])
                   for r in batch_df.collect())

    def start():
        out = decayed_counters_stream(_decay_src(spark, in_dir))
        return (out.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start())

    _decay_write_batch(spark, in_dir, "b0", [(1, 1, 0, 3), (1, 2, 2, 5)])
    with bounded_stream_shuffle(spark):
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        _decay_write_batch(spark, in_dir, "b1", [(1, 3, 3, 2)])
        q2 = start()
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    s = 3 * 1_000_000
    s = (s >> 2) + 5 * 1_000_000
    s = (s >> 1) + 2 * 1_000_000
    latest = {k: (h, sc) for k, h, sc in led}
    assert latest[1] == (3, s)


def test_all_stateful_operators_declare_eviction():
    """The r7 lesson as a standing gate: every applyInPandasWithState
    call site in the package must either configure a real timeout
    (ProcessingTimeTimeout / EventTimeTimeout — conditional is fine, the
    policy exists) or carry an explicit `unbounded-by-design` marker
    within the surrounding lines. A future stateful operator that
    forgets both fails here, not in production state growth."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "streamalert_spark"
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        lines = py.read_text().splitlines()
        for i, line in enumerate(lines):
            if ".applyInPandasWithState(" not in line:
                continue
            window = "\n".join(lines[max(0, i - 40): i + 12])
            has_policy = ("ProcessingTimeTimeout" in window
                          or "EventTimeTimeout" in window)
            has_marker = "unbounded-by-design" in window
            if not (has_policy or has_marker):
                offenders.append(f"{py.relative_to(pkg.parent)}:{i + 1}")
    assert not offenders, (
        "stateful call sites with neither a timeout policy nor an "
        f"explicit unbounded-by-design marker: {offenders}")
