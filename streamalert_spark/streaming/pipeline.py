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
      -> IOC annotate (broadcast join), only for a   [§2.3 join]
         log type whose rules read streamalert_ioc
      -> rules: per log type one native hit-array
         projection, one mapInPandas for every
         Python rule, one explode to alert rows      [§2.4 fused pass]
      -> log types unioned by position into one alerts frame
      -> sinks: alerts parquet, historical store, streamalert_outputs delivery
      -> optional: streaming_merge for merge-configured rules

The micro-batch plan is rebuilt on the driver for every batch, so it holds
only what the batch's rules consume: the reference annotates every record
before its rules run (rules_engine.py:480-481), but only a rule's native
columns can read the annotation here (Python bodies receive the record),
so ``RulesEngine.reads`` decides once per log type whether its hit column
reads ``streamalert_ioc``; an unread annotation is never built.

``build_alerts`` builds the plan for any source frame;
``run_stream_foreach_batch`` is the streaming entry. It persists each
micro-batch once, so every log type's branch reads the same scan, and the
normalized frame of each log type it annotates, so its uuid record ids are
drawn once and the annotation's self-join reads them from the cache. Both
are released after the batch's write.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property, reduce

from pyspark.sql import DataFrame, SparkSession

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
    # expressions and native matchers can reference (F.col('streamalert_ioc'));
    # a log type none of whose rules reads it is not annotated
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
    ) -> DataFrame | None:
        """Source (streaming or batch) with a ``value`` text column ->
        unioned alerts DataFrame.

        Works identically on a batch frame (tests/golden events) and a
        readStream frame — the plan is the same; only the sink differs.

        Nothing is persisted here. Where a log type is IOC-annotated, its
        normalized frame is therefore evaluated twice, once under the
        candidate explode and once under the join back, and its
        ``F.uuid()`` record ids agree between the two only because uuid
        draws its seed when the column is built and both evaluations read
        the same rows in the same partition order, as a file or table
        source does. For a source without that guarantee, persist it
        first or use ``run_stream_foreach_batch``.
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
        return self._alerts(source, service, resource)

    def _alerts(
        self,
        source: DataFrame,
        service: str,
        resource: str,
        held: list[DataFrame] | None = None,
    ) -> DataFrame | None:
        """The alerts plan. A log type's normalized frame is annotated with
        IOCs only when its rules read ``streamalert_ioc``; with ``held``, that
        frame is persisted first and appended to ``held`` for the caller to
        release."""
        batch = self._classifier.classify(source, service=service, resource=resource)
        engine = self._engine

        alert_frames = []
        for log_type, df in batch.by_log_type.items():
            if not self.rules.rules_for_log_type(log_type):
                continue
            cur = df
            normalizer = (self.normalizers or {}).get(log_type)
            if normalizer is not None:
                cur = normalizer.apply(cur)
                if (self.threat_intel is not None
                        and engine.reads(cur, log_type, "streamalert_ioc")):
                    if held is not None:
                        cur = cur.persist()
                        held.append(cur)
                    cur = self.threat_intel.annotate(cur)
            alerts = engine.run(
                cur,
                log_type=log_type,
                cluster=self.cluster,
                source_service=service,
                source_entity=resource,
            )
            if alerts is not None:
                alert_frames.append(alerts)
        if not alert_frames:
            return None
        # every frame is alert_row's projection: union by position
        return reduce(DataFrame.union, alert_frames)

    def run_stream_foreach_batch(
        self,
        spark: SparkSession,
        source_path: str,
        checkpoint: str,
        alerts_path: str,
        service: str = "",
        resource: str = "",
        available_now: bool = False,
    ):
        """The streaming entry: text files under ``source_path`` -> alerts
        parquet; returns the StreamingQuery. Each micro-batch runs classify
        -> normalize -> IOC annotate (where a rule reads it) -> rules with
        BATCH semantics inside foreachBatch, so the IOC hit-map aggregation
        plans (append mode cannot) and, like the reference's per-invocation
        DynamoDB probe, each micro-batch re-reads the IOC frame: IOC refresh
        needs no query restart. Exactly-once: each batch OVERWRITES its own
        batch-id-keyed partition directory, so a micro-batch retried
        after a sink write but before the checkpoint commit replaces its
        own output instead of appending duplicates (the standard
        foreachBatch idempotence contract)."""
        # eager routing validation — the per-batch loop would otherwise
        # silently drop every batch when no rule routes to any configured
        # log type
        probe = spark.createDataFrame([], "value string")
        if self.build_alerts(probe, service=service, resource=resource) is None:
            raise ValueError("no rules routed to any configured log type")

        src = spark.readStream.format("text").load(source_path)

        def process(batch_df, batch_id: int) -> None:
            # one scan of the micro-batch and one normalization per annotated
            # log type serve every branch of the plan; released after the write
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
