"""End-to-end streaming pipeline: the reference's 4-Lambda chain as ONE
Structured Streaming query.

Reference path (SURVEY.md §3.1): Kinesis/S3/SNS -> classifier -> SQS ->
rules engine -> DynamoDB -> merger -> processor. The process boundaries
(SQS/Dynamo/Lambda-invoke) exist for serverless scaling; in Spark they
disappear into operator chaining — classification, normalization, IOC
enrichment and rule evaluation are all projections/joins inside one
micro-batch plan, with durability only where it's wanted (checkpoint +
alerts table).

    source (file/kafka/rate) with columns (value, service, resource)
      -> classify per (service, resource) route      [§2.2 projections]
      -> normalize + record ids                      [§2.3 projection]
      -> IOC annotate (broadcast join, per batch)    [§2.3 join]
      -> rules: per log type one native hit-array
         projection, one mapInPandas for every
         Python rule, one explode to alert rows      [§2.4 fused pass]
      -> log types unioned into one alerts frame
      -> sinks: alerts parquet, historical store, streamalert_outputs delivery
      -> optional: streaming_merge for merge-configured rules

Materialization happens only in ``run_stream_foreach_batch``: the
micro-batch is persisted once, so every log type's branch reads the same
scan, and each log type's normalized frame is persisted before IOC
annotation, so its uuid record ids are drawn once and the annotation's
self-join reads them from the cache. Both are released after the batch's
write. ``build_alerts`` and ``run_stream`` build the same plan without the
persists (a streaming source cannot be persisted).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession

from streamalert_spark.classify.classifier import Classifier
from streamalert_spark.enrich.threat_intel import ThreatIntel
from streamalert_spark.normalize.normalizer import Normalizer
from streamalert_spark.rules.engine import RulesEngine
from streamalert_spark.rules.registry import RuleRegistry
from streamalert_spark.schema.registry import SchemaRegistry


@dataclass
class StreamingPipeline:
    schemas: SchemaRegistry
    rules: RuleRegistry
    normalizers: dict[str, Normalizer] | None = None   # per log type
    # IOC detection between normalization and rules (rules_engine.py:480-481):
    # normalized records gain a 'streamalert_ioc' map column that rule
    # expressions can reference (F.col('streamalert_ioc'))
    threat_intel: ThreatIntel | None = None
    cluster: str = ""

    # one classifier and one engine per pipeline: the columns they build
    # reference columns by name only, so every micro-batch reuses them
    @cached_property
    def _classifier(self) -> Classifier:
        return Classifier(self.schemas)

    @cached_property
    def _engine(self) -> RulesEngine:
        return RulesEngine(self.rules)

    def build_alerts(
        self,
        source: DataFrame,
        service: str = "",
        resource: str = "",
        raw_col: str = "value",
        event_time: Column | None = None,
    ) -> DataFrame | None:
        """Source (streaming or batch) -> unioned alerts DataFrame.

        Works identically on a batch frame (tests/golden events) and a
        readStream frame — the plan is the same; only the sink differs.
        """
        if self.threat_intel is not None and self.normalizers and source.isStreaming:
            # IOC annotation is aggregation-shaped (per-record hit-map
            # groupBy + join-back), which streaming append mode cannot
            # plan mid-query. The Spark-native form is per-micro-batch:
            # use run_stream_foreach_batch, which also gives the per-batch
            # IOC refresh semantics the reference's Lambda probe has.
            raise ValueError(
                "threat_intel annotation on a streaming source must run "
                "per micro-batch — use run_stream_foreach_batch()")
        return self._alerts(source, service, resource, raw_col, event_time)

    def _alerts(
        self,
        source: DataFrame,
        service: str,
        resource: str,
        raw_col: str = "value",
        event_time: Column | None = None,
        held: list[DataFrame] | None = None,
    ) -> DataFrame | None:
        """The alerts plan. With ``held``, each normalized frame that feeds
        IOC annotation is persisted and appended to ``held`` for the caller
        to release."""
        batch = self._classifier.classify(
            source, raw_col=raw_col, service=service, resource=resource)
        engine = self._engine

        alert_frames = []
        for log_type, df in batch.by_log_type.items():
            if not self.rules.rules_for_log_type(log_type):
                continue
            cur = df
            normalizer = (self.normalizers or {}).get(log_type)
            if normalizer is not None:
                cur = normalizer.apply(cur)
                if self.threat_intel is not None:
                    if held is not None:
                        cur = cur.persist()
                        held.append(cur)
                    cur = self.threat_intel.annotate(cur)
            alerts = engine.run(
                cur,
                log_type=log_type,
                event_time=event_time,
                cluster=self.cluster,
                source_service=service,
                source_entity=resource,
            )
            if alerts is not None:
                alert_frames.append(alerts)
        if not alert_frames:
            return None
        out = alert_frames[0]
        for f_ in alert_frames[1:]:
            out = out.unionByName(f_)
        return out

    def run_stream(
        self,
        spark: SparkSession,
        source_path: str,
        checkpoint: str,
        alerts_path: str,
        service: str = "",
        resource: str = "",
        schema: str = "value string",
    ):
        """File-source streaming variant: JSON-lines directory -> alerts
        parquet. Returns the StreamingQuery."""
        src = (
            spark.readStream.format("text")
            .schema(schema)
            .load(source_path)
        )
        alerts = self.build_alerts(src, service=service, resource=resource)
        if alerts is None:
            raise ValueError("no rules routed to any configured log type")
        return (
            alerts.writeStream.format("parquet")
            .option("path", alerts_path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .start()
        )

    def run_stream_foreach_batch(
        self,
        spark: SparkSession,
        source_path: str,
        checkpoint: str,
        alerts_path: str,
        service: str = "",
        resource: str = "",
        schema: str = "value string",
        available_now: bool = False,
    ):
        """Per-micro-batch variant: classify -> normalize -> IOC annotate
        -> rules run with BATCH semantics inside foreachBatch — required
        when threat_intel is configured (the hit-map aggregation cannot
        plan mid-stream in append mode), and the Spark-native equivalent
        of the reference's per-invocation DynamoDB probe: each micro-batch
        re-reads the broadcast IOC frame, so IOC refresh needs no query
        restart. Exactly-once: each batch OVERWRITES its own
        batch-id-keyed partition directory, so a micro-batch retried
        after a sink write but before the checkpoint commit replaces its
        own output instead of appending duplicates (the standard
        foreachBatch idempotence contract)."""
        # eager routing validation — the per-batch loop would otherwise
        # silently drop every batch when no rule routes to any configured
        # log type (run_stream fails loudly the same way)
        probe = spark.createDataFrame([], schema)
        if self.build_alerts(probe, service=service, resource=resource) is None:
            raise ValueError("no rules routed to any configured log type")

        src = (
            spark.readStream.format("text")
            .schema(schema)
            .load(source_path)
        )

        def process(batch_df, batch_id: int) -> None:
            # one scan of the micro-batch and one normalization per log type
            # serve every branch of the plan; released after the write
            held = [batch_df.persist()]
            try:
                alerts = self._alerts(batch_df, service, resource, held=held)
                if alerts is not None:
                    alerts.write.mode("overwrite").parquet(
                        f"{alerts_path}/_sa_batch={batch_id}")
            finally:
                for df in held:
                    df.unpersist()

        writer = (
            src.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
