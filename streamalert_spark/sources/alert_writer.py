"""Alert-delivery streaming SINK as a Spark Python DataSource writer.

The reference's alert processor consumes alerts and POSTs per-service
request bodies (alert_processor/main.py:76-115). This DataSource is the
engine's one delivery path on a stream, and it runs on the EXECUTORS
(``AlertDispatcher.dispatch_alert`` in streaming/sinks.py is the
per-alert retry logic for callers holding single alerts).
``write(iterator)`` runs per partition, builds each alert's per-output
request body with the transport-free builders (streaming/outputs.py —
slack / pagerduty-v2 bodies are the real protocol payloads), and stages
the delivery ledger as a task-local file; ``commit(messages, batchId)``
promotes the staged files to attempt-unique epoch-keyed names and
atomically writes the epoch MANIFEST naming exactly the promoted files
(Spark's own file-sink commit pattern) — the manifest is the commit
point, readers consume only manifest-listed files, and ``abort`` removes
staging. Swap the local renames for a cloud store's atomic copy in
production.

The ledger row is the delivery RECEIPT (alert id, output, service,
descriptor, md5 of the request body) — what the reference persists to its
alerts DynamoDB table as sent-output bookkeeping (main.py:92-115).
Bodies for unknown services are canonical sorted-key JSON of
(descriptor, id, rule_name) — deterministic and SQL-replayable, which is
what the driver-checked query hashes; slack/pagerduty bodies are
pytest-pinned instead (their mrkdwn/attachment shapes aren't SQL).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass



def _body_for(service: str, descriptor: str, alert: dict) -> dict:
    from streamalert_spark.streaming.outputs import (
        pagerduty_v2_request, slack_request,
    )

    if service == "slack":
        return slack_request(alert, descriptor)
    if service == "pagerduty-v2":
        return pagerduty_v2_request(alert, descriptor)
    return {"descriptor": descriptor, "id": alert.get("id"),
            "rule_name": alert.get("rule_name")}


def _manifest_path(path: str, batch_id: int) -> str:
    return os.path.join(path, f"epoch-{batch_id}.manifest.json")


def promote_staged(path: str, messages, batch_id: int) -> None:
    """Epoch commit, Spark-file-sink style: rename each staged task file
    to an ATTEMPT-UNIQUE epoch-keyed name (the staged name already
    carries partitionId + taskAttemptId, so two attempts can never
    collide), then atomically write the epoch MANIFEST naming exactly
    the files this commit promoted. The manifest write IS the commit
    point:

    - a retried commit of an epoch whose manifest exists discards its
      staged files wholesale and changes nothing;
    - a crash BETWEEN the renames and the manifest leaves orphan
      epoch-named files that no manifest references — readers
      (``read_ledger``) consume only manifest-listed files, so the
      orphans are invisible garbage, and the retry (even one that
      repartitioned differently after an AQE restart) promotes its OWN
      attempt-unique files and manifests only those. Exactly one
      attempt's receipts are ever readable; the old
      rename-then-marker scheme's interleaving window is closed.

    Orphans from the same epoch are swept after the manifest lands.
    Swap the local renames for a cloud store's atomic copy in
    production; the manifest pattern carries over unchanged."""
    manifest = _manifest_path(path, batch_id)
    if os.path.exists(manifest):
        for m in messages or []:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)
        return
    committed: list[str] = []
    for m in messages or []:
        if m is None:
            continue
        final = os.path.join(
            path, f"epoch-{batch_id}-{os.path.basename(m.staged)}")
        os.replace(m.staged, final)
        committed.append(os.path.basename(final))
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"epoch": batch_id, "files": sorted(committed)}, fh)
    os.replace(tmp, manifest)
    # sweep orphans a crashed prior attempt left for THIS epoch
    prefix = f"epoch-{batch_id}-"
    keep = set(committed)
    for name in os.listdir(path):
        if (name.startswith(prefix) and name.endswith(".jsonl")
                and name not in keep):
            try:
                os.remove(os.path.join(path, name))
            except OSError:
                pass


def register_alert_writer(spark) -> None:
    """Register the ``streamalert_outputs`` streaming sink format."""
    from pyspark.sql.datasource import (
        DataSource, DataSourceStreamWriter, WriterCommitMessage,
    )

    @dataclass
    class _Msg(WriterCommitMessage):
        staged: str
        rows: int

    class LedgerStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("streamalert_outputs requires option 'path'")

        def write(self, iterator):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            staging = os.path.join(self.path, "_staging")
            os.makedirs(staging, exist_ok=True)
            # taskAttemptId is unique per attempt: a zombie task can never
            # clobber the retry's file; only committed files are ever read
            staged = os.path.join(
                staging,
                f"task-{ctx.partitionId()}-{ctx.taskAttemptId()}.jsonl")
            n = 0
            import hashlib

            with open(staged, "w") as fh:
                for row in iterator:
                    alert = row.asDict()
                    outputs = alert.get("outputs")
                    if isinstance(outputs, str):
                        outputs = json.loads(outputs)
                    for output in outputs or []:
                        if ":" not in output:
                            continue
                        service, descriptor = output.split(":", 1)
                        body = _body_for(service, descriptor, alert)
                        digest = hashlib.md5(
                            json.dumps(body, sort_keys=True, default=str)
                            .encode()).hexdigest()
                        fh.write(json.dumps({
                            "id": alert.get("id"),
                            "output": output,
                            "service": service,
                            "descriptor": descriptor,
                            "body_md5": digest,
                        }, sort_keys=True) + "\n")
                        n += 1
            return _Msg(staged=staged, rows=n)

        def commit(self, messages, batchId) -> None:
            promote_staged(self.path, messages, batchId)

        def abort(self, messages, batchId) -> None:
            for m in messages or []:
                if m is not None and os.path.exists(m.staged):
                    os.remove(m.staged)

    class AlertOutputsDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "streamalert_outputs"

        def streamWriter(self, schema, overwrite):
            return LedgerStreamWriter(self.options)

    spark.dataSource.register(AlertOutputsDataSource)


_LEDGER_SCHEMA = ("id string, output string, service string, "
                  "descriptor string, body_md5 string")


def read_ledger(spark, path: str):
    """Committed ledger rows: only files named by an epoch MANIFEST are
    read — staged files and orphan parts from a crashed partial
    promotion are invisible by construction. A run that committed no
    epochs — zero alerts, or every row's outputs malformed — yields the
    EMPTY typed ledger, not a PATH_NOT_FOUND."""
    import glob as _glob

    files: list[str] = []
    for mf in sorted(_glob.glob(os.path.join(path, "epoch-*.manifest.json"))):
        with open(mf) as fh:
            listed = json.load(fh)["files"]
        files.extend(os.path.join(path, name) for name in listed)
    files = [f for f in files if os.path.exists(f)]
    if not files:
        return spark.createDataFrame([], _LEDGER_SCHEMA)
    return spark.read.schema(_LEDGER_SCHEMA).json(files)
