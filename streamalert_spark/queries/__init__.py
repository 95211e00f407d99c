"""Query registry — the engine's public, driver-checkable query surface.

Every implemented operator family from SURVEY.md §2 registers at least one
named query here. Each entry pairs a Spark callable ``(spark, sf_dir) ->
DataFrame`` with an equivalent DuckDB-runnable ANSI SQL oracle (or None for
genuinely non-SQL-expressible operators — the driver then records a weaker
rows-only check).

Determinism contract (both sides must hash-match):
- money/metric aggregates go through DECIMAL so sum order cannot perturb
  low-order float bits, then cast back to DOUBLE;
- every computed column is aliased identically in Spark and oracle SQL;
- ORDER BY always carries a unique tie-break column;
- hashing uses md5-of-string (portable) — never engine-native hash().
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class RegisteredQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, RegisteredQuery] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a named query with its DuckDB oracle.

    The registered callable releases every op-scoped cached frame
    (ops/dedup.release_op_caches) BEFORE building its DataFrame: caches
    exist for within-query subtree reuse only, and dropping them at the
    next query's entry bounds cross-query executor-memory occupancy to
    zero (guide §5) without costing the current query anything — its own
    caches are created after the release. The decorated function itself
    is returned unwrapped so intra-module calls keep raw semantics."""

    def deco(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            from streamalert_spark.ops.dedup import release_op_caches

            release_op_caches()
            return fn(spark, sf_dir)

        run.__name__ = fn.__name__
        run.__doc__ = fn.__doc__
        QUERIES[name] = RegisteredQuery(name=name, fn=run, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# Queries whose implementation or oracle changed THIS round and should
# be re-verified externally even though their last driver row is recent.
# The rest of the verify-first ordering is DERIVED, not curated: the
# ledger (queries/ledger.py) scans the committed CORRECTNESS_r*.json
# driver records and sorts never-driver-green names first, these changed
# names second, then everything else oldest-green-first. Clear this list
# at the start of each round.
_CHANGED_THIS_ROUND: list[str] = [
    # r13 is the second optimization round: no result changes are
    # allowed, but queries whose BODIES were restructured for speed
    # (value-identical, oracle-proven) list here so the driver's
    # correctness sampler re-verifies them preferentially.
    "cross_doc_dup_rate",          # window form (one explode pass)
    "dsir_importance_weights",     # tf-cache re-aggregation
    "lsh_quality_audit",           # cands/truth cached
    "dedup_components",            # cc input pair set cached once
    "dedup_keep_best",             # (same cc change)
    "dedup_cascade_stages",        # (same cc change)
    "entity_resolution_groups",    # (same cc change)
    "table_profile_sketched",      # counts via no-explode aggregate
    # merge_alerts_batch now runs the helpers shared with the streaming
    # merger (with_merge_values, greedy_groups, merged_rows)
    "alert_merge_greedy",
    "alert_merge_greedy_groups",
    "alert_merge_digest",
    # ThreatIntel.hits now reads all candidates through one explode
    "threat_intel_hits",
    "threat_intel_feed_ingest",
    # RulesEngine.run explodes native hits in its first projection, and
    # its Python pass emits the alert rows
    "rule_alerts_native",
    "alert_merge_windowed",
    # the classifier routes and quarantines rows by one accepted column
    # per candidate, coercion of optional numbers included
    "classify_strict_json",
    "optional_backfill_bool",
    "parse_csv_multiline",
]


def load_all() -> dict[str, RegisteredQuery]:
    """Import every query module (side-effect: registration) and return the
    registry, ordered by re-verification urgency (see queries/ledger.py:
    never-driver-green first, then _CHANGED_THIS_ROUND, then oldest
    driver-green round ascending)."""
    from streamalert_spark.queries import (  # noqa: F401
        analytics_ext,
        analytics_sketch,
        curation_ext,
        llm_ops,
        multimodal_surface,
        parsers_surface,
        pii_surface,
        pipeline,
        pipeline_ext,
        scale_ext,
        sources_surface,
        sql_joins_ext,
        sql_surface,
        sql_tpch_ext,
        surface_ext,
        training_ext,
        warehouse_ext,
    )

    from pathlib import Path

    from streamalert_spark.queries.ledger import load_ledger, verify_order

    repo_root = Path(__file__).resolve().parents[2]
    ledger = load_ledger(repo_root)
    order = verify_order(list(QUERIES), ledger, _CHANGED_THIS_ROUND)
    return {n: QUERIES[n] for n in order}
