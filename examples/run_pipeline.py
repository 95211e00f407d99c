"""Runnable example: conf-driven pipeline, batch or streaming.

    python examples/run_pipeline.py            # batch demo over inline events
    python examples/run_pipeline.py <src_dir>  # stream JSON-lines from a dir

Loads the reference-style conf/ directory, registers the example rules,
and runs source -> classify -> normalize -> rules -> alerts.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from examples.rules.security import build_rules            # noqa: E402
from streamalert_spark.schema.loader import load_conf_dir  # noqa: E402
from streamalert_spark.session import get_spark            # noqa: E402
from streamalert_spark.streaming.pipeline import StreamingPipeline  # noqa: E402

SAMPLE_EVENTS = [
    {"account": "123456789012", "detail": {"severity": "8"},
     "detail-type": "GuardDuty Finding", "id": "f-1", "region": "us-east-1",
     "resources": [], "source": "aws.guardduty",
     "time": "2024-01-01T00:00:00Z", "version": "0"},
    {"version": 2, "account": "123456789012", "srcaddr": "198.51.100.9",
     "dstaddr": "10.0.0.5", "srcport": 55311, "dstport": 22,
     "action": "REJECT"},
    {"version": 2, "account": "123456789012", "srcaddr": "198.51.100.9",
     "dstaddr": "10.0.0.5", "srcport": 55312, "dstport": 443,
     "action": "ACCEPT"},
]


def main() -> None:
    spark = get_spark(app_name="streamalert_spark_example")
    conf = load_conf_dir(Path(__file__).parent / "conf")
    pipeline = StreamingPipeline(schemas=conf, rules=build_rules(), cluster="prod")

    if len(sys.argv) > 1:
        query = pipeline.run_stream_foreach_batch(
            spark,
            source_path=sys.argv[1],
            checkpoint="/tmp/streamalert_spark_ckpt",
            alerts_path="/tmp/streamalert_spark_alerts",
            service="kinesis",
            resource="prod_streamalert",
        )
        query.awaitTermination()
        return

    source = spark.createDataFrame(
        [(json.dumps(e),) for e in SAMPLE_EVENTS], "value string")
    alerts = pipeline.build_alerts(
        source, service="kinesis", resource="prod_streamalert")
    if alerts is None:
        print("no rules routed")
        return
    alerts.select("rule_name", "outputs", "created", "record").show(truncate=80)


if __name__ == "__main__":
    main()
