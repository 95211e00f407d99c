"""A/B a session-conf change over a query set: run the set under the
baseline conf and the candidate conf in SEPARATE sessions, interleaved
passes within each session, min per query — then print per-query and
total deltas. Used in round 12 to adjudicate guide-§9 join/codec confs
honestly before adopting them as session defaults.

Usage: python tools/conf_ab.py --conf k=v [--conf k=v ...] [--names a,b]
       [--top N] [--passes 2]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _top_names(n: int) -> list[str]:
    with open(os.path.join(REPO, "BENCH_LAST.json")) as fh:
        record = json.load(fh)
    mins = {name: v["min"] for name, v in record["queries"].items()
            if isinstance(v, dict) and v.get("min", -1) > 0}
    return [name for name, _ in
            sorted(mins.items(), key=lambda kv: -kv[1])[:n]]


def run_set(names, extra_conf, passes, sf_dir):
    from streamalert_spark.queries import load_all
    from streamalert_spark.session import get_spark

    spark = get_spark(app_name="conf_ab", extra_conf=extra_conf)
    registry = load_all()
    mins: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            try:
                t0 = time.perf_counter()
                registry[name].fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                mins[name] = min(mins.get(name, dt), dt)
            except Exception as exc:  # noqa: BLE001
                print(f"AB ERROR {name}: {exc}", file=sys.stderr)
                mins.setdefault(name, -1.0)
    spark.stop()
    return mins


# the retired comma-joined form `--conf a=1,b=2`: a comma followed by
# another conf key and '=' (JVM flag lists such as `-Dx=1,-Dy=2` pass)
_LEGACY_CONF = re.compile(r",\s*[A-Za-z_][\w.-]*=")


def parse_conf(items: list[str]) -> dict[str, str]:
    """Repeated ``--conf key=value`` flags -> conf dict. Raises
    ValueError on an item without '=' and on the comma-joined form, which
    would otherwise pass ``{'a': '1,b=2'}`` to Spark as one value."""
    conf = {}
    for kv in items:
        if "=" not in kv:
            raise ValueError(f"--conf {kv!r}: expected key=value")
        if _LEGACY_CONF.search(kv):
            raise ValueError(
                f"--conf {kv!r}: comma-joined confs are not supported; "
                "repeat --conf once per key=value")
        key, value = kv.split("=", 1)
        conf[key] = value
    return conf


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--conf", required=True, action="append",
                    help="key=value; repeat the flag for multiple confs "
                         "(values may contain commas, e.g. JVM flag lists)")
    ap.add_argument("--names", default="")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    names = [n for n in args.names.split(",") if n]
    if args.top:
        names += [n for n in _top_names(args.top) if n not in names]
    try:
        conf = parse_conf(args.conf)
    except ValueError as exc:
        ap.error(str(exc))

    # ALTERNATE sessions per config (base, cand, base, cand) and take the
    # min per query per config across its sessions: a minutes-long host
    # contention window poisons one session, not one whole config column
    # (the round-12 null test measured 71s vs 29s for IDENTICAL configs
    # under the sequential two-session design).
    base: dict[str, float] = {}
    cand: dict[str, float] = {}
    for _ in range(2):
        for acc, extra in ((base, None), (cand, conf)):
            got = run_set(names, extra, args.passes, args.sf_dir)
            for n, v in got.items():
                if v > 0:
                    acc[n] = min(acc.get(n, v), v)
                else:
                    acc.setdefault(n, v)
    rows = [(cand[n] - base[n], base[n], cand[n], n)
            for n in names if base[n] > 0 and cand[n] > 0]
    rows.sort()
    for d, a, b, n in rows:
        print(f"{d:+7.3f}  {a:7.3f} -> {b:7.3f}  {n}")
    print(f"TOTAL base={sum(r[1] for r in rows):.2f} "
          f"cand={sum(r[2] for r in rows):.2f}")


if __name__ == "__main__":
    main()
