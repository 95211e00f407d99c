"""Rules engine: every rule of a log type in one fused pass.

Reference loop (streamalert/rules_engine/rules_engine.py:458-512): for each
record, find rules for its log type, pre-check req_subkeys, run matchers,
run the rule body (exceptions -> False, rule.py:160-164), build an Alert.

Spark plan per log type — one pass over the records, whatever the rule
count (cheap predicates stay native and run BEFORE any Python, the
'optimizer' of SURVEY.md §4: Catalyst cannot push into opaque Python).
The hit column is the array of the rules whose native conditions hold:
datatypes routing, req_subkeys (rules_engine.py:135-170), native matcher
twins and rule.expr, evaluated JVM-side in one projection.

  native rules only (two DataFrame steps):
    records.select(carried alert strings, explode(hits) as _sa_rule)
    .select(alert columns)

  some rule with Python matchers, a body or dynamic outputs (four):
    records.select(record where a Python-side rule's native side holds,
                   hits, carried alert strings)
    .filter(size(hits) > 0)
    .mapInPandas(fused)     -- every Python matcher, body and dynamic
                            -- output in one Arrow pass, emitting one row
                            -- per surviving (record, rule); rows hit only
                            -- by native rules pass through without the
                            -- record
    .select(alert columns)

The alert columns take rule metadata from a literal array indexed by
_sa_rule: name, description, outputs (or the staged / dynamic override),
context, merge keys and window.

Python matchers and bodies receive only the record, so the hit column is
the only reader of any other column of the frame, such as the
``streamalert_ioc`` annotation; ``RulesEngine.reads`` answers whether it
reads one, which lets the pipeline skip building an unread annotation.

The engine reads its input once per log type; materializing that input
(so a micro-batch is scanned and enriched once) is the caller's choice —
``StreamingPipeline.run_stream_foreach_batch`` persists each micro-batch.
The rule-dependent columns are built once per engine and log type and
reused for every frame: each DataFrame step costs a py4j round trip and an
analysis of the whole tree, comparable to executing a small micro-batch.
"""

from __future__ import annotations

import copy
import logging
import os
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streamalert_spark.alerts.model import ALERT_TS_FMT, DT_PARTITION_FMT, alert_row, rule_meta_table
from streamalert_spark.rules.registry import Rule, RuleRegistry

# reference env-var opt-in for the per-rule timing harness
# (rules_engine.py:67-70, shared/stats.py:26-97)
TRACK_RULE_STATS_ENV = "STREAMALERT_TRACK_RULE_STATS"

# rules_engine.py:310-338 output format check for dynamic outputs
_VALID_OUTPUT = "^[a-zA-Z0-9_-]+:\\S+$"


def _to_plain(value):
    """Arrow/pandas struct-and-map values -> plain Python dict/list for rule
    bodies (struct -> dict arrives natively; map -> list of 2-tuples)."""
    if isinstance(value, dict):
        return {k: _to_plain(v) for k, v in value.items()}
    if isinstance(value, list):
        if value and isinstance(value[0], tuple) and len(value[0]) == 2:
            return {k: _to_plain(v) for k, v in value}
        return [_to_plain(v) for v in value]
    if isinstance(value, tuple):
        return [_to_plain(v) for v in value]
    return value


class RulesEngine:
    def __init__(self, registry: RuleRegistry, track_rule_stats: bool | None = None):
        self.registry = registry
        # per-rule wall-ms + call-count harness (shared/stats.py:26-97),
        # opt-in via the reference's env var; Spark shape: one accumulator
        # pair per rule, aggregated across executors. Only Python-bodied
        # rules are timed — native-expression rules run inside codegen where
        # per-rule time is not separable (their cost shows in the plan).
        self.track_rule_stats = (
            track_rule_stats
            if track_rule_stats is not None
            else bool(os.environ.get(TRACK_RULE_STATS_ENV))
        )
        self._stat_accs: dict[str, tuple] = {}
        self._plans: dict[tuple, _LogTypePlan | None] = {}

    def _stats_for(self, df: DataFrame, rule_name: str):
        if not self.track_rule_stats:
            return None
        if rule_name not in self._stat_accs:
            sc = df.sparkSession.sparkContext
            self._stat_accs[rule_name] = (sc.accumulator(0.0), sc.accumulator(0))
        return self._stat_accs[rule_name]

    def rule_stats(self) -> dict[str, dict]:
        """{rule: {ms, calls, avg_ms}} (RuleStatisticTracker.statistics_info
        shape, stats.py:59-73)."""
        out = {}
        for name, (t_acc, c_acc) in self._stat_accs.items():
            calls = c_acc.value
            out[name] = {
                "ms": t_acc.value,
                "calls": calls,
                "avg_ms": (t_acc.value / calls) if calls else 0.0,
            }
        return out

    def stats_info(self) -> str:
        """Human-readable per-rule statistics (stats.py:59-73)."""
        stats = self.rule_stats()
        if not stats:
            return "No rule statistics to return"
        pad = max(len(n) for n in stats) + 4
        lines = [
            f"{name:<{pad}}{s['ms']:14.8f} ms  {s['calls']:6d} calls  {s['avg_ms']:14.8f} avg"
            for name, s in sorted(stats.items(), key=lambda kv: (kv[1]["ms"], kv[0]))
        ]
        return "Rule statistics:\n\n" + "\n".join(lines)

    # -- native pre-filters --------------------------------------------------
    def _req_subkeys_filter(self, record: Column, r: Rule) -> Column | None:
        """rules_engine.py:135-170: required nested keys present."""
        return _all_of([record[parent][sk].isNotNull()
                        for parent, subkeys in (r.req_subkeys or {}).items()
                        for sk in subkeys])

    def _matcher_filter(self, record: Column, r: Rule) -> tuple[Column | None, list]:
        """Native matcher expressions where available; Python matcher fns
        otherwise (ALL must pass — rule.py:92-122)."""
        native_conds, python_matchers = [], []
        for name in r.matchers:
            expr_builder = self.registry.matcher_expr(name)
            if expr_builder is not None:
                native_conds.append(expr_builder(record))
            else:
                fn = self.registry.matcher_fn(name)
                if fn is not None:
                    python_matchers.append(fn)
        return _all_of(native_conds), python_matchers

    # -- python side (one Arrow pass for every rule of the log type) -------
    @staticmethod
    def _python_pass(df: DataFrame, evals: list, stats: dict, record_col: str,
                     carried: list[str]) -> DataFrame:
        """Run every rule's Python matchers, body and dynamic outputs in one
        mapInPandas, which emits one row per surviving (record, rule): the
        ``carried`` string columns, the rule index ``_sa_rule`` and its
        dynamic outputs ``_sa_dyn``. ``evals[i]`` is (python matchers, body,
        context, dynamic-output fns) for rule i, or None for a fully native
        rule. ``record_col`` is null on rows where no Python-side rule hit
        natively; every hit of those rows survives. Exceptions map to False
        (rule.py:142-164) and the context is deep-copied per call
        (rule.py:152-157). One plain record serves every rule of a row, as
        in the reference loop. ``stats`` maps a rule index to its (time_acc,
        count_acc) pair timing the body (stats.py:35-57)."""

        def fired(record, i: int, ms: list, calls: list) -> bool:
            python_matchers, process, base_context, _ = evals[i]
            try:
                for m in python_matchers:
                    if not m(record):
                        return False
                if process is None:
                    return True
                ctx = copy.deepcopy(base_context) if base_context is not None else None
                t0 = time.perf_counter()
                ok = bool(process(record, ctx)) if ctx is not None else bool(process(record))
                if i in stats:
                    ms[i] += (time.perf_counter() - t0) * 1000.0
                    calls[i] += 1
                return ok
            except Exception:  # noqa: BLE001 — rule.py:160-164: never crash
                return False

        def dynamic(record, i: int) -> list[str]:
            """rules_engine.py:245-308: each fn gets (record[, context]) and
            returns str | list | None; a failing fn contributes nothing."""
            _, _, base_context, fns = evals[i]
            extra: list[str] = []
            for fn in fns:
                try:
                    got = (fn(record, copy.deepcopy(base_context))
                           if base_context is not None else fn(record))
                except Exception:  # noqa: BLE001 — bad fn adds nothing
                    continue
                if isinstance(got, str):
                    extra.append(got)
                elif isinstance(got, (list, tuple)):
                    extra.extend(str(g) for g in got if g)
            return extra

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ms = [0.0] * len(evals)
                calls = [0] * len(evals)
                at, rules_out, dyn_out = [], [], []
                for n, (rec, hits) in enumerate(zip(pdf[record_col], pdf["_sa_hits"])):
                    hits = [int(i) for i in hits]
                    if rec is None:
                        kept, record = hits, None
                    else:
                        record = _to_plain(rec)
                        kept = [i for i in hits if evals[i] is None or fired(record, i, ms, calls)]
                    at.extend([n] * len(kept))
                    rules_out.extend(kept)
                    dyn_out.extend(dynamic(record, i) if evals[i] is not None and evals[i][3]
                                   else [] for i in kept)
                for i, (t_acc, c_acc) in stats.items():
                    if calls[i]:
                        t_acc.add(ms[i])
                        c_acc.add(calls[i])
                # typed explicitly: a batch may yield no alert rows
                yield pdf[carried].iloc[at].reset_index(drop=True).assign(
                    _sa_rule=pd.Series(rules_out, dtype="int32"),
                    _sa_dyn=pd.Series(dyn_out, dtype=object))

        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in carried]
            + [T.StructField("_sa_rule", T.IntegerType()),
               T.StructField("_sa_dyn", T.ArrayType(T.StringType()))]
        )
        return df.mapInPandas(run, schema=schema)

    # -- public API ------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        log_type: str,
        record_col: str = "record",
        event_time: Column | None = None,
        cluster: str = "",
        source_service: str = "",
        source_entity: str = "",
        alert_id: Column | None = None,
        staged_rules: dict[str, bool] | None = None,
        required_outputs: list[str] | None = None,
    ) -> DataFrame | None:
        """Classified records of one log type -> alerts DataFrame (or None
        when no rule routes to this type).

        staged_rules/required_outputs implement the staging gate
        (rules_engine.py:219-243): a staged rule's alerts carry
        staged=true and are routed ONLY to the required outputs.
        """
        plan = self._plan(df, log_type, record_col, staged_rules, required_outputs)
        if plan is None:
            return None
        ts = event_time if event_time is not None else F.current_timestamp()
        carried = [
            F.to_json(F.col(record_col)).alias("_sa_record"),
            F.date_format(ts, ALERT_TS_FMT).alias("_sa_created"),
            F.date_format(ts, DT_PARTITION_FMT).alias("_sa_dt"),
        ]
        if alert_id is not None:
            carried.append(alert_id.cast("string").alias("_sa_id"))

        if plan.evals is None:
            # native rules only: an alert row per (record, rule whose native
            # side holds), exploded straight off the records
            cur = df.select(*carried, F.explode(plan.hits).alias("_sa_rule"))
        else:
            # the rows some rule's native side holds, the record kept where a
            # Python-side rule hit, then one Arrow pass for every Python
            # matcher, body and dynamic output, emitting the alert rows
            cur = self._python_pass(
                df.select(plan.python_rec.alias("_sa_rec"), plan.hits.alias("_sa_hits"), *carried)
                .filter(F.size("_sa_hits") > 0),
                plan.evals, plan.stats, "_sa_rec",
                ["_sa_record", "_sa_created", "_sa_dt"] + (["_sa_id"] if alert_id is not None else []))
        key = (cluster, source_service, source_entity, log_type)
        if key not in plan.rows:
            plan.rows[key] = alert_row(
                plan.meta,
                F.col("_sa_record"),
                F.col("_sa_created"),
                F.col("_sa_dt"),
                cluster=cluster,
                source_service=source_service,
                source_entity=source_entity,
                log_type=log_type,
                alert_id=F.col("_sa_id"),
                outputs=plan.outputs,
            )
        # the id is built per call: F.uuid() draws its seed when it is built
        aid = F.col("_sa_id") if alert_id is not None else F.uuid()
        return cur.select(aid.cast("string").alias("id"), *plan.rows[key][1:])

    def reads(self, df: DataFrame, log_type: str, column: str, record_col: str = "record") -> bool:
        """Whether the native side of ``log_type``'s rules reads ``column``,
        which ``df`` lacks: the fused hit column is resolved against ``df``
        and fails on exactly that column. Python matchers and bodies see
        only the record, so the hit column is the only reader. Decided once
        per log type and frame columns."""
        plan = self._plan(df, log_type, record_col, None, None)
        if plan is None:
            return False
        key = (column, tuple(df.columns))
        if key not in plan.reads:
            # PySpark logs every analysis failure; this one is the answer
            quiet = logging.getLogger("DataFrameQueryContextLogger")
            was, quiet.disabled = quiet.disabled, True
            try:
                df.select(plan.hits)
                plan.reads[key] = False
            except AnalysisException as e:
                if not (e.getCondition() or "").startswith("UNRESOLVED_COLUMN"):
                    raise
                missing = e.getMessageParameters()["objectName"].split(".")[0]
                plan.reads[key] = missing.strip("`").lower() == column.lower()
            finally:
                quiet.disabled = was
        return plan.reads[key]

    def _plan(self, df: DataFrame, log_type: str, record_col: str,
              staged_rules: dict[str, bool] | None,
              required_outputs: list[str] | None) -> _LogTypePlan | None:
        """The rule-dependent columns of one log type's pass, built once per
        engine and reused for every frame (micro-batch) with the same shape:
        they reference columns by name only. Rules are read as they stand
        when first planned."""
        rules = self.registry.rules_for_log_type(log_type)
        has_norm = "streamalert_normalization" in df.columns
        key = (log_type, record_col, has_norm, tuple(id(r) for r in rules),
               tuple(sorted((staged_rules or {}).items())), tuple(required_outputs or ()))
        if key in self._plans:
            return self._plans[key]
        record = F.col(record_col)
        picked: list[tuple[Rule, Column | None, list, bool]] = []
        for r in rules:
            conds: list[Column] = []
            if r.datatypes:
                # datatype routing (rule.py:227-229, docs/rules.rst:174-179):
                # the record's normalization must contain at least one
                # subscribed normalized type. Without a normalization column
                # a datatype-routed rule can never match.
                if not has_norm:
                    continue
                norm = F.col("streamalert_normalization")
                routed = None
                for dt_name in r.datatypes:
                    # the map carries every CONFIGURED type (empty values
                    # when its condition failed) — presence means actual
                    # extracted values, not just the key
                    c = F.size(F.flatten(
                        F.transform(norm[dt_name], lambda e: e["values"])
                    )) > 0
                    routed = c if routed is None else (routed | c)
                conds.append(routed)
            pre = self._req_subkeys_filter(record, r)
            if pre is not None:
                conds.append(pre)
            mcond, python_matchers = self._matcher_filter(record, r)
            if mcond is not None:
                conds.append(mcond)
            if r.expr is not None:
                conds.append(r.expr(record))
            staged = bool((staged_rules or {}).get(r.name, False))
            picked.append((r, _all_of(conds), python_matchers, staged))
        if not picked:
            self._plans[key] = None
            return None

        hits = F.array_compact(F.array(*[
            F.lit(i) if native is None else F.when(native, F.lit(i))
            for i, (_, native, _, _) in enumerate(picked)
        ]))
        # staging gate: only the required outputs receive staged alerts
        # (rules_engine.py:219-243), and dynamic outputs never apply to them
        dynamic = [i for i, (r, _, _, staged) in enumerate(picked)
                   if r.dynamic_outputs and not staged]
        evals = [
            (python_matchers, r.process, r.context,
             r.dynamic_outputs if i in dynamic else [])
            if (python_matchers or r.process is not None or i in dynamic) else None
            for i, (r, _, python_matchers, _) in enumerate(picked)
        ]
        py_idx = [i for i, e in enumerate(evals) if e is not None]
        # timed like the reference's body timer: rules with a body or
        # Python matchers (stats.py:35-57)
        stats = {i: self._stats_for(df, r.name) for i, (r, _, python_matchers, _) in enumerate(picked)
                 if self.track_rule_stats and (python_matchers or r.process is not None)}
        meta = rule_meta_table([
            (r, staged, (required_outputs or []) if staged else None)
            for r, _, _, staged in picked
        ])[F.col("_sa_rule")]
        outputs = None
        if dynamic:
            # merge static + dynamic, keep only valid 'service:descriptor'
            # outputs (rules_engine.py:310-338 format check)
            outputs = F.when(F.col("_sa_rule").isin(dynamic), F.array_distinct(F.concat(
                meta["outputs"],
                F.filter(F.col("_sa_dyn"), lambda o: o.rlike(_VALID_OUTPUT)),
            ))).otherwise(meta["outputs"])
        plan = _LogTypePlan(
            hits=hits,
            evals=evals if py_idx else None,
            python_rec=F.when(F.exists(hits, lambda h: h.isin(py_idx)), record) if py_idx else None,
            stats=stats,
            meta=meta,
            outputs=outputs,
        )
        self._plans[key] = plan
        return plan


@dataclass
class _LogTypePlan:
    """The rule-dependent columns of one log type's fused pass."""

    hits: Column                   # array of the rules whose native side holds
    evals: list | None             # per rule: Python side, or None when native;
                                   # None throughout: no Python pass
    python_rec: Column | None      # the record where a Python-side rule hit
    stats: dict                    # rule index -> (time_acc, count_acc)
    meta: Column                   # metadata struct of the row's _sa_rule
    outputs: Column | None         # outputs with dynamic outputs merged in
    rows: dict = field(default_factory=dict)   # alert_row projections by source
    reads: dict = field(default_factory=dict)  # (column, frame columns) -> hits read it


def _all_of(conds: list[Column]) -> Column | None:
    out = None
    for c in conds:
        out = c if out is None else (out & c)
    return out

