"""Dynamic outputs, staging gate, output validation, metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamalert_spark.rules.engine import RulesEngine
from streamalert_spark.rules.registry import Rule, RuleRegistry


def _df(spark):
    return spark.createDataFrame(
        [(("alice", 5),), (("bob", 9),)],
        "record struct<name:string, n:bigint>",
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))


def test_dynamic_outputs_merged_and_validated(spark):
    """rules_engine.py:245-308 + output format check at 310-338."""

    def route_by_name(record):
        if record["name"] == "bob":
            return ["pagerduty:oncall", "not a valid output!", None]
        return "slack:low"

    def explodes(record):
        raise RuntimeError("bad dynamic output fn")

    reg = RuleRegistry()
    reg.add(Rule(
        name="dyn", expr=lambda r: F.lit(True), logs=["t:x"],
        outputs=["s3:archive"],
        dynamic_outputs=[route_by_name, explodes],
    ))
    alerts = RulesEngine(reg).run(_df(spark), log_type="t:x", event_time=F.col("ts"))
    rows = {r["record"]: r["outputs"] for r in alerts.collect()}
    by_name = {("alice" if "alice" in k else "bob"): v for k, v in rows.items()}
    assert by_name["alice"] == ["s3:archive", "slack:low"]
    # invalid-format and None entries dropped, valid dynamic kept
    assert by_name["bob"] == ["s3:archive", "pagerduty:oncall"]


def test_staging_gate(spark):
    """rules_engine.py:219-243 — staged rules only reach required outputs."""
    reg = RuleRegistry()
    reg.add(Rule(name="st", expr=lambda r: F.lit(True), logs=["t:x"],
                 outputs=["slack:prod", "pagerduty:oncall"]))
    alerts = RulesEngine(reg).run(
        _df(spark), log_type="t:x", event_time=F.col("ts"),
        staged_rules={"st": True},
        required_outputs=["firehose:alerts"],
    )
    rows = alerts.collect()
    assert all(r["staged"] is True for r in rows)
    assert all(r["outputs"] == ["firehose:alerts"] for r in rows)


def test_unstaged_keeps_outputs(spark):
    reg = RuleRegistry()
    reg.add(Rule(name="st", expr=lambda r: F.lit(True), logs=["t:x"],
                 outputs=["slack:prod"]))
    alerts = RulesEngine(reg).run(
        _df(spark), log_type="t:x", event_time=F.col("ts"),
        staged_rules={"st": False}, required_outputs=["firehose:alerts"],
    )
    rows = alerts.collect()
    assert all(r["staged"] is False for r in rows)
    assert all(r["outputs"] == ["slack:prod"] for r in rows)


def test_observe_metrics(spark):
    from streamalert_spark import metrics as M

    df = spark.createDataFrame([("abc",), ("defgh",)], "value string")
    observed, obs = M.observe_records(df, size_col="value")
    assert observed.count() == 2
    got = obs.get
    assert got[M.TOTAL_RECORDS] == 2
    assert got[M.TOTAL_PROCESSED_SIZE] == 8

    alerts = spark.createDataFrame(
        [("r1",), ("r1",), ("r2",)], "rule_name string"
    )
    observed, obs = M.observe_alerts(alerts)
    observed.count()
    got = obs.get
    assert got[M.TRIGGERED_ALERTS] == 3
    assert got["distinct_rules"] == 2


def test_sanitized_table_name():
    """firehose.py:305-336 naming: sanitize + md5 suffix on truncation."""
    from streamalert_spark.schema.sanitize import sanitized_table_name

    assert sanitized_table_name("cloudwatch:cloudtrail") == "cloudwatch_cloudtrail"
    long = "a" * 80
    out = sanitized_table_name(long)
    assert len(out) == 64
    assert out.startswith("a" * 55 + "_")
    # deterministic suffix
    assert out == sanitized_table_name(long)


def test_observe_normalized_counts_extracting_rows(spark):
    import streamalert_spark.metrics as M
    from streamalert_spark.normalize.normalizer import (
        NormalizationSpec, Normalizer, PathSpec,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(("1.2.3.4",),), ((None,),)],
        "record struct<src_ip: string>",
    )
    normed = Normalizer(NormalizationSpec(types={
        "ip_address": [PathSpec(path="src_ip")],
    })).apply(df, record_col="record", record_id=F.lit("x"))
    observed, obs = M.observe_normalized(normed)
    observed.count()
    assert obs.get[M.NORMALIZED_RECORDS] == 1


def test_streaming_metrics_listener(spark, tmp_path):
    """Observed metrics surface per micro-batch through the listener."""
    import json as _json
    import time as _time

    import streamalert_spark.metrics as M

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "a.jsonl", "w") as fh:
        for i in range(5):
            fh.write(_json.dumps({"v": str(i)}) + "\n")

    sink: list = []
    listener = M.MetricsListener.build(sink)
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema("v string").json(str(src))
        observed, _obs = M.observe_records(stream, size_col="v")
        q = (observed.writeStream.format("memory").queryName("metrics_out")
             .option("checkpointLocation", str(tmp_path / "ck")).start())
        q.processAllAvailable()
        deadline = _time.time() + 30
        while not sink and _time.time() < deadline:
            _time.sleep(1)
        q.stop()
    finally:
        spark.streams.removeListener(listener)
    assert sink, "no observed metrics captured"
    m = sink[0]["metrics"]["records"]
    assert m[M.TOTAL_RECORDS] == 5


def test_session_skips_python_call_site_capture(spark):
    """get_spark (which built the ``spark`` fixture) turns off PySpark's
    per-Column call-site capture, which costs py4j round trips on every F.*
    call while a plan is built."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_get_spark_returns_the_active_session_untouched(spark):
    """A get_spark() call while a session is active returns that session
    and leaves its confs alone: the fixture's 8 shuffle partitions stay,
    whatever $SPARK_GRAFT_CPUS says."""
    from streamalert_spark.session import get_spark

    assert get_spark(shuffle_partitions=3) is spark
    assert get_spark() is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
