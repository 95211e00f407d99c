"""Sinks: historical store + alert delivery dispatch.

Historical store (reference: shared/firehose.py + athena_partitioner/):
per-log-type dt=YYYY-MM-DD-HH partitioned Parquet with sanitized column
names — Spark's partition discovery replaces ALTER TABLE ADD PARTITION
(athena_partitioner/main.py:179-207), writer file sizing replaces Firehose
batch packing (firehose.py:92-129).

Alert delivery (reference: alert_processor/main.py:76-152): per alert, per
remaining output, run the publisher pipeline then the output dispatcher;
record which outputs succeeded; an alert is done when outputs_sent ==
outputs, otherwise it is retried next batch with only the unsent outputs.
Output services plug in as callables — the reference ships 22
(alert_processor/outputs/); the engine-core contract is the dispatch loop +
retry semantics, with console/file implementations inline and the rest
registrable.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from streamalert_spark.schema.sanitize import sanitize_columns, sanitized_table_name


class HistoricalStore:
    """dt-partitioned Parquet tables, one per log type + alerts + artifacts."""

    def __init__(self, base_path: str):
        self.base_path = base_path.rstrip("/")

    def table_path(self, log_type: str) -> str:
        return f"{self.base_path}/{sanitized_table_name(log_type)}"

    def write_batch(self, df: DataFrame, log_type: str, dt_col: str = "dt") -> None:
        """Append a batch with Hive-style dt partitioning. Column names are
        sanitized exactly like firehose.py:131-166."""
        out = sanitize_columns(df)
        (out.write.mode("append").partitionBy(dt_col).parquet(self.table_path(log_type)))

    def write_stream(self, df: DataFrame, log_type: str, checkpoint: str, dt_col: str = "dt"):
        """Streaming append with checkpointed exactly-once semantics (the
        Firehose buffer/batch knobs disappear — writer handles sizing)."""
        out = sanitize_columns(df)
        return (
            out.writeStream.format("parquet")
            .option("path", self.table_path(log_type))
            .option("checkpointLocation", checkpoint)
            .partitionBy(dt_col)
            .outputMode("append")
        )

    def write_batch_bucketed(
        self,
        df: DataFrame,
        log_type: str,
        bucket_col: str = "streamalert_record_id",
        buckets: int = 64,
        dt_col: str | None = "dt",
    ) -> str:
        """Append as a catalog table bucketed (and sorted) on ``bucket_col``.

        Bucketing pre-partitions the table by hash(bucket_col) at WRITE
        time, so joins and aggregations on that column read co-located
        buckets with NO exchange — the scale path for record ⋈ artifacts /
        alerts ⋈ records joins that would otherwise shuffle the full table
        (SURVEY §2.7). Requires the catalog (bucket metadata lives there);
        plain write_batch stays for pathless appends. Returns the table name.
        """
        out = sanitize_columns(df)
        name = sanitized_table_name(log_type)
        writer = (
            out.write.mode("append")
            .option("path", self.table_path(log_type))
            .bucketBy(buckets, bucket_col)
            .sortBy(bucket_col)
        )
        if dt_col and dt_col in out.columns:
            writer = writer.partitionBy(dt_col)
        writer.format("parquet").saveAsTable(name)
        return name

    def read(self, spark, log_type: str, merge_schema: bool = False) -> DataFrame:
        """Read a log type's historical table. ``merge_schema=True`` unions
        the schemas of every Parquet footer (added columns backfill NULL in
        older files) — the schema-evolution behavior the reference gets from
        Athena reading evolved Firehose output against the latest Glue
        schema. Off by default: the footer union costs one extra pass over
        file metadata, which matters at 100 TB partition counts."""
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(self.table_path(log_type))


# ---------------------------------------------------------------------------
# Alert delivery
# ---------------------------------------------------------------------------

Publisher = Callable[[dict, dict], dict]       # (alert, publication) -> publication
OutputFn = Callable[[dict, str], bool]         # (publication, descriptor) -> success


def compose_publishers(publishers: list[Publisher], alert: dict) -> dict:
    """Publishers compose in series over the publication dict
    (shared/publisher.py:39-120); a failing publisher is skipped, not fatal."""
    publication: dict = dict(alert)
    for pub in publishers:
        try:
            publication = pub(alert, publication) or publication
        except Exception:  # noqa: BLE001 — publisher errors don't block delivery
            continue
    return publication


@dataclass
class AlertDispatcher:
    """The alert-processor dispatch loop (alert_processor/main.py:76-115).

    services: {service_name: OutputFn}; publishers: {service_name: [Publisher]}.
    ``dispatch_alert`` attempts one alert's unsent outputs and returns the
    new sent set. On a stream, alerts are delivered on the executors by the
    ``streamalert_outputs`` sink (sources/alert_writer.py).
    """

    services: dict[str, OutputFn] = field(default_factory=dict)
    publishers: dict[str, list[Publisher]] = field(default_factory=dict)

    def register(self, service: str, fn: OutputFn, publishers: list[Publisher] | None = None):
        self.services[service] = fn
        if publishers:
            self.publishers[service] = publishers

    def dispatch_alert(self, alert: dict, outputs_sent: set[str]) -> set[str]:
        """Try each remaining 'service:descriptor' output; return the new
        sent set (main.py:76-92: success removes the output from retry)."""
        sent = set(outputs_sent)
        for output in alert.get("outputs") or []:
            if output in sent or ":" not in output:
                continue
            service, descriptor = output.split(":", 1)
            fn = self.services.get(service)
            if fn is None:
                continue
            publication = compose_publishers(self.publishers.get(service, []), alert)
            try:
                if fn(publication, descriptor):
                    sent.add(output)
            except Exception:  # noqa: BLE001 — delivery failure -> retry next batch
                continue
        return sent


def console_output(publication: dict, descriptor: str) -> bool:
    """Minimal built-in output service (like the reference's aws-ses/sns
    shapes but local): print and succeed."""
    print(f"[alert->{descriptor}] {json.dumps(publication, default=str)[:500]}")
    return True


def file_output(base_path: str) -> OutputFn:
    """File-sink output service: one JSON line per alert."""

    def write(publication: dict, descriptor: str) -> bool:
        import os

        os.makedirs(base_path, exist_ok=True)
        with open(os.path.join(base_path, f"{descriptor}.jsonl"), "a") as fh:
            fh.write(json.dumps(publication, default=str) + "\n")
        return True

    return write
