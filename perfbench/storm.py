"""The alert-storm job that ``hunt_scheduled`` runs each tick: a drain of
an alert backlog.

Each round takes a fresh slice of generated alerts (rules-stage output
shape, Zipf-skewed merge keys, slack / pagerduty-v2 outputs) and drains it
twice: through the ``streamalert_outputs`` delivery sink under
``Trigger.AvailableNow`` and through the merger's scheduled pass
``merge_alerts_batch``. Receipts must equal the sum of outputs per alert,
and the merged groups must equal a replay through
``alerts.merge.greedy_groups``.

The streaming merger (``streaming_merge_event_time``) is not used: it
raises INVALID_TIMEOUT_TIMESTAMP on such a backlog (see METRICS.md).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter
from datetime import datetime, timedelta

from gen import alert_backlog
from harness import Bench, Tracer, span

ROUND_ALERTS = 10_000
STOP_TIMEOUT_S = 60.0


def _write_slice(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamalert_spark.alerts.model import ALERT_SCHEMA

    os.makedirs(path)
    fields = []
    for f in ALERT_SCHEMA.fields:
        t = {"StringType()": pa.string(), "BooleanType()": pa.bool_(),
             "LongType()": pa.int64()}.get(str(f.dataType))
        if t is None:
            t = (pa.list_(pa.string()) if f.dataType.typeName() == "array"
                 else pa.map_(pa.string(), pa.string()))
        fields.append(pa.field(f.name, t))
    table = pa.Table.from_pylist(rows, schema=pa.schema(fields))
    # two files per slice, so the sink sees more than one input split
    half = len(rows) // 2
    pq.write_table(table.slice(0, half), os.path.join(path, "part-0.parquet"))
    pq.write_table(table.slice(half), os.path.join(path, "part-1.parquet"))


def expected_groups(rows: list[dict]) -> Counter:
    """Replay of the merger: greedy chronological groups per (rule, merge
    values), via ``alerts.merge.greedy_groups``."""
    from streamalert_spark.alerts.merge import ALERT_TS_PY_FMT, greedy_groups

    by_key: dict[tuple, list[str]] = {}
    for r in rows:
        rec = json.loads(r["record"])
        key = (r["rule_name"], tuple(sorted((k, rec.get(k)) for k in r["merge_by_keys"])))
        by_key.setdefault(key, []).append(r["created"])
    out = Counter()
    window = timedelta(minutes=rows[0]["merge_window_mins"])
    for key, createds in by_key.items():
        ts = [datetime.strptime(c, ALERT_TS_PY_FMT) for c in createds]
        for g in greedy_groups(ts, window):
            first = min(createds[i] for i in g)
            last = max(createds[i] for i in g)
            out[(key, len(g), first, last)] += 1
    return out


class StormJob:
    def __init__(self, bench: Bench):
        self.b = bench
        self.spark = bench.spark
        self.round = 0
        self.seq = 0

    def load(self) -> None:
        """The repeatable part of set-up: register the delivery sink."""
        from streamalert_spark.sources.alert_writer import register_alert_writer

        register_alert_writer(self.spark)

    def prepare(self) -> None:
        """Warm both drains on a small slice, the merge on a second thread
        (the delivery query stays on the thread that registered its sink)."""
        from concurrent.futures import ThreadPoolExecutor

        path, _rows = self.next_slice(2_000)
        with ThreadPoolExecutor(max_workers=1) as pool:
            merged = pool.submit(self.merge, path)
            self.deliver(path)
            merged.result()

    def next_slice(self, n: int = ROUND_ALERTS) -> tuple[str, list[dict]]:
        rows = alert_backlog(self.b.seed, n, start_seq=self.seq)
        self.seq += n
        path = self.b.path("backlog", f"round-{self.round:04d}")
        self.round += 1
        _write_slice(path, rows)
        return path, rows

    def deliver(self, path: str):
        """Backlog slice -> delivery receipts; returns the query's progress."""
        from streamalert_spark.alerts.model import ALERT_SCHEMA

        name = os.path.basename(path)
        q = (self.spark.readStream.schema(ALERT_SCHEMA).parquet(path)
             .writeStream.format("streamalert_outputs")
             .option("path", self.b.path("ledger", name))
             .option("checkpointLocation", self.b.path("ckpt", name))
             .trigger(availableNow=True).start())
        finished = q.awaitTermination(STOP_TIMEOUT_S)
        exc = q.exception()
        if not finished:
            q.stop()
        return finished and exc is None, list(q.recentProgress)

    def merge(self, path: str) -> list:
        from streamalert_spark.alerts.merge import merge_alerts_batch

        return merge_alerts_batch(self.spark.read.parquet(path)).collect()

    def drain(self, sl: tuple[str, list[dict]], tracer: Tracer | None = None) -> dict:
        path, rows = sl
        t0 = time.perf_counter()
        with span(tracer, "deliver", path):
            ok, progress = self.deliver(path)
        with span(tracer, "alerts.merge", path):
            merged = self.merge(path)
        busy = time.perf_counter() - t0
        receipts = self.receipts(path)
        want = Counter((r["id"], o) for r in rows for o in r["outputs"])
        got_groups = Counter(
            ((m.rule_name, tuple(sorted(json.loads(m.merge_values).items()))),
             m.alert_count, m.alert_time_first, m.alert_time_last) for m in merged)
        want_groups = expected_groups(rows)
        bad_ids = {i for (i, _o), k in (want - receipts).items()} | \
                  {i for (i, _o), k in (receipts - want).items()}
        return {
            "busy": busy, "ok": ok and not bad_ids and got_groups == want_groups,
            "failed": len(bad_ids) if got_groups == want_groups and ok else len(rows),
            "alerts": len(rows), "receipts": sum(receipts.values()),
            "groups": len(merged),
            "commit_ms": sum(p["durationMs"].get("commitOffsets", 0)
                             + p["durationMs"].get("walCommit", 0) for p in progress),
        }

    def receipts(self, path: str) -> Counter:
        ledger = self.b.path("ledger", os.path.basename(path))
        out = Counter()
        for mf in glob.glob(os.path.join(ledger, "epoch-*.manifest.json")):
            with open(mf) as fh:
                names = json.load(fh)["files"]
            for name in names:
                with open(os.path.join(ledger, name)) as fh:
                    for line in fh:
                        r = json.loads(line)
                        out[(r["id"], r["output"])] += 1
        return out
