"""detect_live: an open loop at one fixed offered rate through
``StreamingPipeline.run_stream_foreach_batch``.

A generator thread writes one JSON-lines file per tick into a watched
directory, on a schedule that does not slow when the engine slows. Every
event carries a creation stamp; an alert's latency runs from its file's due
time at the generator to the commit of the micro-batch that wrote it (the
mtime of the checkpoint's commit-log entry).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

from gen import ROUTE, EventGen, ioc_values, stamp_of
from harness import Bench, Tracer, median

RATE_EV_S = 200          # offered events per second
# One file per tick. A micro-batch takes ~13 s at the seed on 4 cores, so a
# run of a few seconds is one tick: a tick spans the whole run, and the
# run measures one micro-batch after warm-up (see METRICS.md).
TICK_S = 3.0
IOC_COUNT = 100_000
IOC_TYPES = {"account": ["account"], "command": ["command"]}
DRAIN_TIMEOUT_S = 90.0


@dataclass
class GenFile:
    name: str
    due: float                 # wall-clock due time (time.time())
    done: float                # wall-clock time the file became visible
    first_seq: int
    n: int


@dataclass
class Offered:
    files: list[GenFile] = field(default_factory=list)
    expected: Counter = field(default_factory=Counter)

    def file_of(self, seq: int) -> GenFile | None:
        lo, hi = 0, len(self.files) - 1
        while lo <= hi:
            mid = (lo + hi) // 2
            f = self.files[mid]
            if seq < f.first_seq:
                hi = mid - 1
            elif seq >= f.first_seq + f.n:
                lo = mid + 1
            else:
                return f
        return None


def _write_file(watch: str, stage: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(stage, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(watch, name))


class Detect:
    def __init__(self, bench: Bench):
        self.b = bench
        self.spark = bench.spark
        self.watch = bench.path("watch")
        self.stage = bench.path("stage")
        self.ckpt = bench.path("ckpt")
        self.alerts = bench.path("alerts")
        os.makedirs(self.watch)
        os.makedirs(self.stage)
        self.gen = EventGen(bench.seed)
        self.offered = Offered()
        self.ioc_df = None

    # ------------------------------------------------------------ set-up
    def _load(self):
        """conf + rules + normalizers + IOC table: the repeatable set-up."""
        from examples.rules.security import build_rules
        from streamalert_spark.enrich.lookup_tables import LookupTables
        from streamalert_spark.enrich.threat_intel import ThreatIntel
        from streamalert_spark.schema.loader import load_conf_dir, normalizers_from_conf
        from streamalert_spark.session import local_rows_df

        conf = load_conf_dir(os.path.join(self.b.root, "examples", "conf"))
        rules = build_rules(lookups=LookupTables(self.spark))
        normalizers = normalizers_from_conf(conf)
        if self.ioc_df is not None:
            self.ioc_df.unpersist()
        self.ioc_df = local_rows_df(
            self.spark, [(v, "account") for v in ioc_values(self.b.seed, IOC_COUNT)],
            "ioc_value string, sub_type string").cache()
        self.ioc_df.count()
        self.conf, self.rules, self.normalizers = conf, rules, normalizers
        self.ti = ThreatIntel(self.ioc_df, IOC_TYPES)

    def setup(self, reps: int = 3) -> float:
        from streamalert_spark.streaming.pipeline import StreamingPipeline

        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            self._load()
            times.append(time.perf_counter() - t0)
        self.pipeline = StreamingPipeline(
            schemas=self.conf, rules=self.rules, normalizers=self.normalizers,
            threat_intel=self.ti, cluster="prod")
        # warm-up: batch 0 of the stream holds one event per template, so the
        # run also proves each template fires exactly its declared rules
        t0 = time.perf_counter()
        lines, expected = self.gen.every_template()
        _write_file(self.watch, self.stage, "f-warmup.json", lines)
        self.offered.expected.update(expected)
        self.q = self.pipeline.run_stream_foreach_batch(
            self.spark, self.watch, self.ckpt, self.alerts, *ROUTE)
        self.warm_ok = self._wait_committed(0, DRAIN_TIMEOUT_S)
        warm = time.perf_counter() - t0
        print(f"perfbench: set-up repeats {[round(t, 3) for t in times]} s, warm-up {warm:.3f} s",
              file=sys.stderr)
        return median(times) + warm

    # ------------------------------------------------------------ stream I/O
    def _committed(self) -> list[int]:
        d = os.path.join(self.ckpt, "commits")
        if not os.path.isdir(d):
            return []
        return sorted(int(n) for n in os.listdir(d) if n.isdigit())

    def _wait_committed(self, batch_id: int, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.q.exception() is not None:
                return False
            if batch_id in self._committed():
                return True
            time.sleep(0.05)
        return False

    def _batch_files(self) -> dict[int, list[str]]:
        """batch id -> file names, from the file source's offset log."""
        d = os.path.join(self.ckpt, "sources", "0")
        out: dict[int, list[str]] = {}
        if not os.path.isdir(d):
            return out
        for n in os.listdir(d):
            if not n.isdigit():
                continue
            with open(os.path.join(d, n)) as fh:
                lines = fh.read().splitlines()[1:]
            out[int(n)] = [os.path.basename(json.loads(ln)["path"]) for ln in lines if ln.strip()]
        return out

    def _commit_time(self, batch_id: int) -> float:
        return os.stat(os.path.join(self.ckpt, "commits", str(batch_id))).st_mtime

    # ------------------------------------------------------------ measure
    def _generate(self, seconds: float, t0: float) -> None:
        n_ticks = max(1, int(round(seconds / TICK_S)))
        per_tick = int(RATE_EV_S * TICK_S)
        for k in range(n_ticks):
            due = t0 + k * TICK_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            first = self.gen.seq
            lines, expected = self.gen.next_events(per_tick)
            name = f"f-{k:06d}.json"
            _write_file(self.watch, self.stage, name, lines)
            self.offered.files.append(GenFile(name, due, time.time(), first, per_tick))
            self.offered.expected.update(expected)

    def measure(self, seconds: float) -> dict:
        before = self.b.status_totals()
        first_measured = len(self._committed())
        t0 = time.time() + 0.05
        g = threading.Thread(target=self._generate, args=(seconds, t0), name="generator")
        g.start()
        g.join()
        last = self.offered.files[-1].name
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        drained = False
        while time.monotonic() < deadline and self.q.exception() is None:
            files = self._batch_files()
            committed = set(self._committed())
            if any(last in fs for b, fs in files.items() if b in committed):
                drained = True
                break
            time.sleep(0.05)
        exc = self.q.exception()
        # stop only between batches: stopping mid-batch kills the stream
        # execution thread inside the sink
        stop_deadline = time.monotonic() + 30
        while self.q.status.get("isTriggerActive") and time.monotonic() < stop_deadline:
            time.sleep(0.05)
        progress = list(self.q.recentProgress)
        self.q.stop()
        after = self.b.status_totals()
        return self._score(drained, exc, progress, first_measured,
                           {k: after[k] - before[k] for k in after})

    def _alert_rows(self) -> list[tuple[int, str, str, str]]:
        import glob

        import pyarrow.parquet as pq

        rows = []
        for part in glob.glob(os.path.join(self.alerts, "_sa_batch=*")):
            batch_id = int(part.rsplit("=", 1)[1])
            for fp in glob.glob(os.path.join(part, "*.parquet")):
                t = pq.read_table(fp, columns=["rule_name", "log_type", "record"])
                for r in t.to_pylist():
                    rows.append((batch_id, r["rule_name"], r["log_type"], r["record"]))
        return rows

    def _score(self, drained, exc, progress, first_measured, spark_delta) -> dict:
        batch_of_file = {}
        for b, fs in self._batch_files().items():
            for f in fs:
                batch_of_file[f] = b
        committed = set(self._committed())
        got = Counter()
        latencies = []
        for batch_id, rule, log_type, record in self._alert_rows():
            stamp = stamp_of(log_type, json.loads(record))
            got[(stamp, rule)] += 1
            if stamp is None or batch_id not in committed:
                continue
            f = self.offered.file_of(int(stamp[2:]))
            if f is not None:
                latencies.append(self._commit_time(batch_id) - f.due)
        # per-event verdict: an event fails when its alert multiset differs
        want_by_stamp, got_by_stamp = {}, {}
        for (stamp, rule), k in self.offered.expected.items():
            want_by_stamp.setdefault(stamp, Counter())[rule] += k
        for (stamp, rule), k in got.items():
            got_by_stamp.setdefault(stamp, Counter())[rule] += k
        bad = {s for s in set(want_by_stamp) | set(got_by_stamp)
               if want_by_stamp.get(s) != got_by_stamp.get(s)}
        measured_files = self.offered.files
        attempted = sum(f.n for f in measured_files)
        unprocessed = sum(f.n for f in measured_files
                          if batch_of_file.get(f.name) not in committed)
        failed = min(attempted, len(bad) + unprocessed + (attempted if exc else 0))
        last = measured_files[-1]
        lag_end = (self._commit_time(batch_of_file[last.name]) - last.due
                   if batch_of_file.get(last.name) in committed else float(DRAIN_TIMEOUT_S))
        measured = [p for p in progress if p["batchId"] >= first_measured]
        dur = {k: [p["durationMs"].get(k, 0) for p in measured] for k in
               ("getBatch", "triggerExecution", "queryPlanning", "addBatch", "walCommit")}
        offered_in_measured = sum(
            f.n for f in measured_files if batch_of_file.get(f.name, -1) >= first_measured)
        return {
            "attempted": attempted,
            "failed": failed,
            "correct": failed == 0 and drained and exc is None and self.warm_ok,
            "latencies": latencies,
            "lag_end_s": lag_end,
            "rate": attempted / max(1e-9, max(self._commit_time(b) for b in committed) - measured_files[0].due),
            "alerts_per_s": len(latencies) / max(1e-9, last.due + TICK_S - measured_files[0].due),
            "layers": {
                "sources.rescan_factor": sum(p["numInputRows"] for p in measured) / max(1, offered_in_measured),
                "sources.get_batch_ms": median(dur["getBatch"]) if measured else 0.0,
                "streaming.trigger_ms": median(dur["triggerExecution"]) if measured else 0.0,
                "streaming.plan_ms": median(dur["queryPlanning"]) if measured else 0.0,
                "streaming.add_batch_ms": median(dur["addBatch"]) if measured else 0.0,
                "streaming.wal_commit_ms": median(dur["walCommit"]) if measured else 0.0,
                "gen.late_ms_max": max((f.done - f.due) * 1000.0 for f in measured_files),
            },
            "spark": spark_delta,
            "progress": [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in measured],
        }

    # ------------------------------------------------------------ traced pass
    def traced_layers(self, tracer: Tracer) -> dict:
        """Layer by layer over the same generated files, each layer's output
        materialized before the next starts; then the same batch untraced
        through ``build_alerts`` for the overhead."""
        from pyspark.sql import functions as F

        from streamalert_spark.classify.classifier import Classifier
        from streamalert_spark.rules.engine import RulesEngine

        spark = self.spark
        paths = [os.path.join(self.watch, f.name) for f in self.offered.files]
        held = []

        def keep(df):
            df = df.cache()
            held.append(df)
            return df, df.count()

        t_traced = time.perf_counter()
        with tracer.span("detect.batch", "detect"):
            with tracer.span("sources.read", "detect"):
                src, n_in = keep(spark.read.text(paths))
            with tracer.span("classify", "detect"):
                batch = Classifier(self.conf).classify(src, "value", *ROUTE)
                typed = {}
                for lt, df in batch.by_log_type.items():
                    typed[lt], n = keep(df)
                    tracer.add("classify.rows_matched", n)
                tracer.add("classify.rows_invalid", batch.invalid.count())
            tracer.add("classify.rows_in", n_in)
            engine = RulesEngine(self.rules, track_rule_stats=True)
            alerts = 0
            for lt, df in typed.items():
                norm = self.normalizers.get(lt)
                if norm is not None:
                    with tracer.span("normalize", lt):
                        df, _ = keep(norm.apply(df))
                        values = F.flatten(F.flatten(F.transform(
                            F.map_values("streamalert_normalization"),
                            lambda es: F.transform(es, lambda e: e["values"]))))
                        tracer.add("normalize.rows_with_values",
                                   df.filter(F.size(values) > 0).count())
                    with tracer.span("enrich", lt):
                        cand = 0
                        for nts in IOC_TYPES.values():
                            for nt in nts:
                                vals = F.flatten(F.transform(
                                    F.col("streamalert_normalization")[nt], lambda e: e["values"]))
                                cand += df.select(F.coalesce(F.size(vals), F.lit(0)).alias("n")) \
                                    .agg(F.sum("n")).collect()[0][0] or 0
                        tracer.add("enrich.ioc_candidates", cand)
                        df, _ = keep(self.ti.annotate(df))
                        tracer.add("enrich.ioc_hits", df.filter(
                            F.col("streamalert_ioc").isNotNull()).count())
                with tracer.span("rules", lt):
                    out = engine.run(df, log_type=lt, cluster="prod",
                                     source_service=ROUTE[0], source_entity=ROUTE[1])
                    if out is not None:
                        _, n = keep(out)
                        alerts += n
            stats = engine.rule_stats()
            tracer.add("rules.alerts", alerts)
            tracer.add("rules.python_rows", sum(s["calls"] for s in stats.values()))
            tracer.add("rules.python_body_ms", sum(s["ms"] for s in stats.values()))
        t_traced = time.perf_counter() - t_traced
        for df in held:
            df.unpersist()
        t0 = time.perf_counter()
        self.pipeline.build_alerts(spark.read.text(paths), *ROUTE).collect()
        t_plain = time.perf_counter() - t0
        return {"trace.overhead_s": t_traced - t_plain}


def run(bench: Bench, seconds: float, trace: bool) -> dict:
    w = Detect(bench)
    setup_s = bench.session_start_s + w.setup()
    res = w.measure(seconds)
    res["setup_s"] = setup_s
    if trace:
        tracer = Tracer(events=res.pop("progress"))
        res["layers"].update(w.traced_layers(tracer))
        res["tracer"] = tracer
    return res
