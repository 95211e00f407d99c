"""Benchmark entry point.

    python3 perfbench/run.py --workload detect_live --seed 1 --seconds 3 --trace 0

Run from the root of a checkout: the engine (``streamalert_spark``) and the
example deployment (``examples/``) are imported from the working directory.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run writes its spans and counters to
``.perfbench_trace/<workload>-seed<seed>.jsonl`` in the checkout. See ``perfbench/METRICS.md`` for what each metric measures.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = {
    "detect_live": "w_detect",
    "hunt_scheduled": "w_hunt",
}

# name -> unit; the order is the order printed
END_TO_END = {
    "setup_s": "s",
    "alert_latency_p50_s": "s",
    "alert_latency_p99_s": "s",
    "lag_end_s": "s",
    "alerts_per_s": "1/s",
    "store_rows_per_s": "1/s",
    "hunt_pack_p50_s": "s",
    "hunt_pack_p90_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
}

HUNT_PACKS = ("last_hour_counts", "distinct_principals_24h", "top_talkers", "alerts_by_record")
CURATE_STAGES = ("clean_redact", "exact_dedup", "lsh_candidates", "lsh_pairs", "components",
                 "pipeline_query", "cascade_query")

PER_LAYER = {
    "sources.rescan_factor": "x",
    "sources.get_batch_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "gen.late_ms_max": "ms",
    "classify.busy_ms": "ms",
    "classify.rows_in": "count",
    "classify.rows_matched": "count",
    "classify.rows_invalid": "count",
    "normalize.busy_ms": "ms",
    "normalize.rows_with_values": "count",
    "enrich.busy_ms": "ms",
    "enrich.ioc_candidates": "count",
    "enrich.ioc_hits": "count",
    "rules.busy_ms": "ms",
    "rules.python_rows": "count",
    "rules.python_body_ms": "ms",
    "rules.alerts": "count",
    "alerts.merge_busy_ms": "ms",
    "alerts.merge_groups": "count",
    "alerts.merge_input_alerts": "count",
    "deliver.busy_ms": "ms",
    "deliver.receipts": "count",
    "deliver.commit_ms": "ms",
    "sinks.write_ms": "ms",
    "sinks.files": "count",
    "sinks.bytes": "bytes",
    **{f"sql.pack_ms.{p}": "ms" for p in HUNT_PACKS},
    "sql.files_read": "count",
    "sql.files_pruned": "count",
    "sql.feedback_ms": "ms",
    **{f"ops.stage_ms.{s}": "ms" for s in CURATE_STAGES},
    "ops.lsh_candidates": "count",
    "ops.verified_pairs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.executor_run_ms": "ms",
    "spark.gc_ms": "ms",
    "canary_ms": "ms",
    "failed_ratio": "ratio",
    "trace.overhead_s": "s",
}

# spans whose self time is reported as a layer's busy time
_BUSY_SPANS = {
    "classify.busy_ms": "classify",
    "normalize.busy_ms": "normalize",
    "enrich.busy_ms": "enrich",
    "rules.busy_ms": "rules",
    "alerts.merge_busy_ms": "alerts.merge",
    "deliver.busy_ms": "deliver",
    "sinks.write_ms": "sinks.write",
    **{f"sql.pack_ms.{p}": f"sql.pack.{p}" for p in HUNT_PACKS},
    "sql.feedback_ms": "sql.feedback",
    **{f"ops.stage_ms.{s}": f"ops.{s}" for s in CURATE_STAGES},
}

WATCHDOG_S = 170.0


def _kill_tree_and_exit(code: int) -> None:
    """Stop every descendant process (the JVM, Python workers), wait for
    each to end, then exit."""
    from harness import descendant_pids, stop_processes

    stop_processes(descendant_pids(os.getpid()), term_wait=2.0)
    os._exit(code)


def _watchdog() -> None:
    time.sleep(WATCHDOG_S)
    print(f"perfbench: run exceeded {WATCHDOG_S:.0f} s, aborting", file=sys.stderr)
    _kill_tree_and_exit(3)


def end_to_end(res: dict, peak_rss_mb: float) -> dict[str, float]:
    """Every end-to-end metric. A workload reports its own metrics; for a
    metric named after another workload's path it reports the same kind of
    figure on its own unit of work (see METRICS.md)."""
    from harness import quantile

    lat = res["latencies"]
    return {
        "setup_s": res["setup_s"],
        "alert_latency_p50_s": res.get("alert_latency_p50_s", quantile(lat, 0.5)),
        "alert_latency_p99_s": res.get("alert_latency_p99_s", quantile(lat, 0.99)),
        "lag_end_s": res["lag_end_s"],
        "alerts_per_s": res.get("alerts_per_s", res["rate"]),
        "store_rows_per_s": res.get("store_rows_per_s", res["rate"]),
        "hunt_pack_p50_s": res.get("hunt_pack_p50_s", quantile(lat, 0.5)),
        "hunt_pack_p90_s": res.get("hunt_pack_p90_s", quantile(lat, 0.9)),
        "docs_per_s": res.get("docs_per_s", res["rate"]),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(res: dict, canary_s: list[float]) -> dict[str, float]:
    from harness import median

    out = {name: 0.0 for name in PER_LAYER}
    tracer = res.get("tracer")
    if tracer is not None:
        for metric, span in _BUSY_SPANS.items():
            out[metric] = tracer.busy_ms(span)
        for key, value in tracer.counts.items():
            if key in out:
                out[key] = float(value)
    for key, value in res.get("layers", {}).items():
        if key in out:
            out[key] = float(value)
    spark = res.get("spark", {})
    out["spark.tasks"] = spark.get("tasks", 0.0)
    out["spark.shuffle_bytes"] = spark.get("shuffle_bytes", 0.0)
    out["spark.executor_run_ms"] = spark.get("run_ms", 0.0)
    out["spark.gc_ms"] = spark.get("gc_ms", 0.0)
    out["canary_ms"] = median(canary_s) * 1000.0
    out["failed_ratio"] = res["failed"] / max(1, res["attempted"])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("streamalert_spark/__init__.py", "examples/conf/clusters",
                           "examples/rules/security.py")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {', '.join(missing)}); "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    threading.Thread(target=_watchdog, name="watchdog", daemon=True).start()

    from harness import Bench

    workload = importlib.import_module(WORKLOADS[args.workload])
    bench = Bench(root, args.seed)
    t_begin = time.perf_counter()
    try:
        bench.start_spark()
        res = workload.run(bench, args.seconds, bool(args.trace))
        t_workload = time.perf_counter() - t_begin
        bench.canary()
        bench.canary()
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        return 1
    finally:
        bench.close()
    print(f"perfbench: workload done at {t_workload:.1f} s, closed at "
          f"{time.perf_counter() - t_begin:.1f} s", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} canary_s={bench.canary_s} "
          f"session_start_s={bench.session_start_s:.3f} "
          f"samples={len(res['latencies'])}", file=sys.stderr)
    if args.trace:
        values = per_layer(res, bench.canary_s)
        units = PER_LAYER
        out_dir = os.path.join(root, ".perfbench_trace")
        os.makedirs(out_dir, exist_ok=True)
        res["tracer"].dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        values = end_to_end(res, bench.rss.peak_mb)
        units = END_TO_END
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
