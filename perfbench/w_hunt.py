"""hunt_scheduled: a closed loop of the deployment's scheduled jobs, with
writes beside reads.

First the run ingests ``HOURS`` hours of typed cloudtrail and flow-log rows
through ``HistoricalStore.write_batch`` (dt-partitioned Parquet). Then it
runs ticks until the run's time is up; the next tick starts when the last
one ends. A tick runs, one after the other:

- ``ScheduledQueryRunner`` over four packs, then ``to_streamquery_records``
  fed back through ``Classifier`` on the StreamQuery results route;
- the alert-storm job (``storm.py``): a fresh backlog slice drained by the
  delivery sink and the merger's scheduled pass;
- the corpus-curation job (``curation.py``).
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from curation import DOCS, PASS_QUERY, CurationJob
from gen import HUNT_NOW, hunt_alerts, store_hour
from harness import Bench, Tracer, median, quantile, span
from storm import StormJob

HOURS = 30
ROWS_PER_HOUR = 1_500
HOURS_PER_WRITE = 6
ALERTS = 2_000
MIN_TICKS = 2            # medians over at least two ticks per run
FEEDBACK_ROUTE = ("kinesis", "prefix_streamquery_results")

PACKS = {
    "last_hour_counts": (
        "SELECT event_name, COUNT(*) AS n FROM cloudtrail "
        "WHERE dt = '{utcdatehour_minus1hour}' GROUP BY event_name ORDER BY event_name"),
    "distinct_principals_24h": (
        "SELECT COUNT(DISTINCT principal) AS n FROM cloudtrail "
        "WHERE dt >= '{utcdatehour_minus1day}'"),
    "top_talkers": (
        "SELECT srcaddr, SUM(bytes) AS total_bytes FROM flows "
        "WHERE dt >= '{utcdatehour_minus1day}' "
        "GROUP BY srcaddr ORDER BY total_bytes DESC, srcaddr LIMIT 10"),
    "alerts_by_record": (
        "SELECT a.rule_name, COUNT(*) AS n, COUNT(DISTINCT c.principal) AS principals "
        "FROM alerts a JOIN cloudtrail c ON a.record_id = c.record_id "
        "WHERE c.dt >= '{utcdatehour_minus1day}' "
        "GROUP BY a.rule_name ORDER BY a.rule_name"),
}

# the store tables each pack scans (for the pruned-file count)
PACK_TABLES = {"last_hour_counts": ["cloudtrail"], "distinct_principals_24h": ["cloudtrail"],
               "top_talkers": ["flows"], "alerts_by_record": ["cloudtrail"]}

TRAIL_SCHEMA = ("record_id string, event_time string, event_name string, "
                "principal string, source_ip string, region string, dt string")
FLOW_SCHEMA = ("record_id string, srcaddr string, dstaddr string, dstport bigint, "
               "bytes bigint, action string, dt string")


def scan_files(df) -> int:
    """Files the executed plan's Parquet scans read (their numFiles metric)."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        if cls == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
            continue
        metrics = node.metrics()
        if metrics.contains("numFiles"):
            total += metrics.apply("numFiles").value()
        kids = node.children()
        for i in range(kids.size()):
            todo.append(kids.apply(i))
    return total


class Hunt:
    def __init__(self, bench: Bench):
        self.b = bench
        self.spark = bench.spark
        self.curation = CurationJob(bench)
        self.storm = StormJob(bench)

    def _frames(self, hours: range):
        """Local frames for the given hours, grouped HOURS_PER_WRITE
        hours per write: [(trail_df, flow_df, n_rows)]."""
        import pandas as pd

        out = []
        hs = list(hours)
        for i in range(0, len(hs), HOURS_PER_WRITE):
            trail, flows = [], []
            for h in hs[i:i + HOURS_PER_WRITE]:
                t, f = store_hour(self.b.seed, h, ROWS_PER_HOUR)
                trail += t
                flows += f
            out.append((self.spark.createDataFrame(pd.DataFrame(trail), TRAIL_SCHEMA),
                        self.spark.createDataFrame(pd.DataFrame(flows), FLOW_SCHEMA),
                        len(trail) + len(flows)))
        return out

    def setup(self, reps: int = 3) -> float:
        from streamalert_spark.schema.loader import load_conf_dir
        from streamalert_spark.sql.scheduled import (
            QueryPack, QueryPackRepository, ScheduledQueryRunner, generate_time_parameters,
        )

        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            self.conf = load_conf_dir(os.path.join(self.b.root, "examples", "conf"))
            repo = QueryPackRepository()
            for name, sql in PACKS.items():
                repo.register(QueryPack(name=name, description=f"hunt pack {name}",
                                        query=sql, tags=["hourly"]))
            self.runner = ScheduledQueryRunner(self.spark, repo)
            self.params = generate_time_parameters(HUNT_NOW)
            self.curation.load()
            self.storm.load()
            times.append(time.perf_counter() - t0)
        # inputs (local frames, the corpus) and a warm-up over a small store
        t0 = time.perf_counter()
        self.batches = self._frames(range(HOURS))
        warm_store = self._frames(range(1))

        def warm_hunt():
            self._ingest(self.b.path("warm_store"), warm_store)
            self._tick()

        # the warm-ups are independent; overlapping them shortens set-up. The
        # storm job stays on this thread, where its sink format is registered.
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [pool.submit(warm_hunt), pool.submit(self.curation.prepare)]
            self.storm.prepare()
            for f in futures:
                f.result()
        warm = time.perf_counter() - t0
        print(f"perfbench: set-up repeats {[round(t, 3) for t in times]} s, warm-up {warm:.3f} s",
              file=sys.stderr)
        return median(times) + warm

    def _ingest(self, base: str, batches, tracer: Tracer | None = None) -> float:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from streamalert_spark.streaming.sinks import HistoricalStore

        self.store = HistoricalStore(base)
        t0 = time.perf_counter()
        for trail, flows, _n in batches:
            with span(tracer, "sinks.write", "cloudtrail"):
                self.store.write_batch(trail, "cloudtrail")
            with span(tracer, "sinks.write", "flows"):
                self.store.write_batch(flows, "flows")
        dt = time.perf_counter() - t0
        trail_ids = [r["record_id"] for h in range(HOURS) for r in store_hour(self.b.seed, h, 50)[0]]
        alerts_path = os.path.join(base, "alerts.parquet")
        pq.write_table(pa.Table.from_pylist(hunt_alerts(self.b.seed, trail_ids, ALERTS)),
                       alerts_path)
        for view, lt in (("cloudtrail", "cloudtrail"), ("flows", "flows")):
            self.spark.read.parquet(self.store.table_path(lt)).createOrReplaceTempView(view)
        self.spark.read.parquet(alerts_path).createOrReplaceTempView("alerts")
        return dt

    def _tick(self, tracer: Tracer | None = None) -> dict:
        """One schedule tick: every pack, then the feedback records through
        the classifier. Returns per-pack seconds, rows and feedback count."""
        from streamalert_spark.classify.classifier import Classifier

        out = {"pack_s": {}, "rows": {}, "files": 0}
        results = {}
        for pack in self.runner.repository.get_packs(["hourly"]):
            t0 = time.perf_counter()
            with span(tracer, f"sql.pack.{pack.name}", "tick"):
                df, execution = self.runner.run_pack(pack, self.params)
                df = df.cache()
                rows = df.collect()
            if tracer is not None:
                out["files"] += scan_files(df)
            out["pack_s"][pack.name] = time.perf_counter() - t0
            out["rows"][pack.name] = [tuple(r) for r in rows]
            results[pack.name] = (df, execution)
        t0 = time.perf_counter()
        with span(tracer, "sql.feedback", "tick"):
            records = self.runner.to_streamquery_records(results)
            batch = Classifier(self.conf).classify(records, "value", *FEEDBACK_ROUTE)
            out["feedback"] = sum(df.count() for df in batch.by_log_type.values())
        out["feedback_s"] = time.perf_counter() - t0
        for df, _ in results.values():
            df.unpersist()
        return out

    def oracle(self) -> dict[str, list[tuple]]:
        """Every pack in DuckDB over the same Parquet files."""
        import duckdb

        con = duckdb.connect()
        try:
            for view, lt in (("cloudtrail", "cloudtrail"), ("flows", "flows")):
                glob_path = os.path.join(self.store.table_path(lt), "*", "*.parquet")
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet("
                            f"'{glob_path}', hive_partitioning = 1, hive_types_autocast = 0)")
            alerts = os.path.join(os.path.dirname(self.store.table_path("x")), "alerts.parquet")
            con.execute(f"CREATE VIEW alerts AS SELECT * FROM read_parquet('{alerts}')")
            return {name: [tuple(r) for r in con.execute(sql.format(**self.params)).fetchall()]
                    for name, sql in PACKS.items()}
        finally:
            con.close()

    def files_and_bytes(self, log_type: str) -> tuple[int, int]:
        n = size = 0
        for dirpath, _dirs, files in os.walk(self.store.table_path(log_type)):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        return n, size


def _same(a: list[tuple], b: list[tuple]) -> bool:
    return sorted(map(repr, a)) == sorted(map(repr, b))


def run(bench: Bench, seconds: float, trace: bool) -> dict:
    w = Hunt(bench)
    setup_s = bench.session_start_s + w.setup()
    before = bench.status_totals()
    t_start = time.monotonic()
    ingest_s = w._ingest(bench.path("store"), w.batches)
    rows = sum(n for _t, _f, n in w.batches)
    ticks, rounds, passes = [], [], []
    while time.monotonic() < t_start + seconds or len(ticks) < MIN_TICKS:
        ticks.append(w._tick())
        rounds.append(w.storm.drain(w.storm.next_slice()))
        passes.append(w.curation.one_pass())
    after = bench.status_totals()
    want = w.oracle()
    want_docs = w.curation.oracle([PASS_QUERY])
    bad_packs = sum(1 for t in ticks for name in PACKS
                    if not _same(t["rows"][name], want[name]))
    bad_feedback = sum(1 for t in ticks if t["feedback"] != len(PACKS))
    bad_passes = sum(1 for _s, r in passes if not _same(r, want_docs[PASS_QUERY]))
    failed = bad_packs + bad_feedback + bad_passes + sum(r["failed"] for r in rounds)
    pack_s = [s for t in ticks for s in t["pack_s"].values()]
    storm_s = [r["busy"] for r in rounds]
    tick_s = [sum(t["pack_s"].values()) + t["feedback_s"] + r["busy"] + p
              for t, r, (p, _rows) in zip(ticks, rounds, passes)]
    alerts = sum(r["alerts"] for r in rounds)
    res = {
        "setup_s": setup_s,
        "attempted": len(ticks) * (len(PACKS) + 1) + alerts + len(passes) + len(w.batches),
        "failed": failed,
        "correct": failed == 0 and all(r["ok"] for r in rounds),
        "latencies": tick_s,
        "lag_end_s": median(tick_s),
        "rate": rows / ingest_s,
        # every alert of a slice is due when its round starts and done when
        # both drains have committed
        "alert_latency_p50_s": median(storm_s),
        "alert_latency_p99_s": quantile(storm_s, 0.99),
        "alerts_per_s": alerts / sum(storm_s),
        "store_rows_per_s": rows / ingest_s,
        "hunt_pack_p50_s": median(pack_s),
        "hunt_pack_p90_s": quantile(pack_s, 0.9),
        "docs_per_s": DOCS * len(passes) / sum(p for p, _r in passes),
        "layers": {
            "alerts.merge_input_alerts": float(alerts),
            "alerts.merge_groups": float(sum(r["groups"] for r in rounds)),
            "deliver.receipts": float(sum(r["receipts"] for r in rounds)),
            "deliver.commit_ms": float(sum(r["commit_ms"] for r in rounds)),
        },
        "spark": {k: after[k] - before[k] for k in after},
    }
    if trace:
        tracer = Tracer()
        w._ingest(bench.path("store_traced"), w.batches, tracer)
        traced = w._tick(tracer)
        traced_round = w.storm.drain(w.storm.next_slice(), tracer)
        traced_docs = w.curation.traced_pass(tracer)
        res["tracer"] = tracer
        stats = {lt: w.files_and_bytes(lt) for lt in ("cloudtrail", "flows")}
        # the alerts table is one more file, read by alerts_by_record
        candidates = sum(stats[lt][0] for ts in PACK_TABLES.values() for lt in ts) + 1
        traced_tick = (sum(traced["pack_s"].values()) + traced["feedback_s"] + traced_round["busy"]
                       + tracer.busy_ms("ops.pipeline_query") / 1000.0)
        res["layers"].update({
            "sinks.files": float(sum(n for n, _ in stats.values())),
            "sinks.bytes": float(sum(b for _, b in stats.values())),
            "sql.files_read": float(traced["files"]),
            "sql.files_pruned": float(candidates - traced["files"]),
            "trace.overhead_s": traced_tick - median(tick_s),
        })
        want_docs = w.curation.oracle(traced_docs)
        res["correct"] = res["correct"] and traced_round["ok"] and all(
            _same(traced["rows"][n], want[n]) for n in PACKS) and all(
            _same(rows, want_docs[n]) for n, rows in traced_docs.items())
    return res
