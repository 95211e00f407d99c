"""Alert model — the public schema of the alerts table.

Field parity with the reference Alert's dynamo/output record
(streamalert/shared/alert.py:27-242; output_dict at alert.py:212-242;
Athena alerts table DDL from a synthetic alert at
streamalert_cli/athena/helpers.py:178-189). Timestamps use the reference's
'%Y-%m-%dT%H:%M:%S.%fZ' format (alert.py:35); the dt partition column is
'YYYY-MM-DD-HH' (athena_partitioner/main.py:41-59).
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALERT_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"   # alert.py:35 strftime %fZ
DT_PARTITION_FMT = "yyyy-MM-dd-HH"                  # athena_partitioner/main.py:41-59

ALERT_SCHEMA = T.StructType([
    T.StructField("id", T.StringType(), False),
    T.StructField("rule_name", T.StringType(), False),
    T.StructField("rule_description", T.StringType(), True),
    T.StructField("record", T.StringType(), True),          # JSON text of the triggering record
    T.StructField("outputs", T.ArrayType(T.StringType()), True),
    T.StructField("created", T.StringType(), True),
    T.StructField("cluster", T.StringType(), True),
    T.StructField("context", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("log_source", T.StringType(), True),
    T.StructField("log_type", T.StringType(), True),
    T.StructField("publishers", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("source_entity", T.StringType(), True),
    T.StructField("source_service", T.StringType(), True),
    T.StructField("staged", T.BooleanType(), True),
    T.StructField("merge_by_keys", T.ArrayType(T.StringType()), True),
    T.StructField("merge_window_mins", T.LongType(), True),
    T.StructField("dt", T.StringType(), True),
])


RULE_META_DDL = (
    "struct<name:string, description:string, outputs:array<string>, "
    "context:map<string,string>, merge_by_keys:array<string>, "
    "merge_window_mins:bigint, staged:boolean>"
)


def rule_meta_table(entries: list[tuple]) -> Column:
    """Alert metadata of several rules as one literal array of
    RULE_META_DDL structs, from (rule, staged, outputs) entries; ``outputs``
    (when not None) overrides the rule's static list. The rules engine
    indexes it by rule. Built as from_json over one JSON literal, which the
    optimizer folds to a constant: one expression for the whole table
    instead of a dozen per rule."""
    rows = [
        {
            "name": rule.name,
            "description": rule.description,
            "outputs": list(rule.outputs if outputs is None else outputs),
            "context": {k: str(v) for k, v in rule.context.items()} if rule.context else None,
            "merge_by_keys": list(rule.merge_by_keys),
            "merge_window_mins": rule.merge_window_mins,
            "staged": staged,
        }
        for rule, staged, outputs in entries
    ]
    return F.from_json(F.lit(json.dumps(rows)), f"array<{RULE_META_DDL}>")


def alert_row(
    meta: Column,
    record_json: Column,
    created: Column,
    dt: Column,
    cluster: str = "",
    source_service: str = "",
    source_entity: str = "",
    log_type: str = "",
    alert_id: Column | None = None,
    outputs: Column | None = None,
) -> list[Column]:
    """Projection list of one alert row (ALERT_SCHEMA order) from a
    ``rule_meta_table`` struct and the triggering record's JSON text; ``created``
    and ``dt`` are the formatted event time. ``outputs`` replaces the
    metadata's outputs (dynamic outputs)."""
    aid = alert_id if alert_id is not None else F.uuid()
    return [
        aid.cast("string").alias("id"),
        meta["name"].alias("rule_name"),
        meta["description"].alias("rule_description"),
        record_json.alias("record"),
        (outputs if outputs is not None else meta["outputs"]).alias("outputs"),
        created.alias("created"),
        F.lit(cluster).alias("cluster"),
        meta["context"].alias("context"),
        F.lit(source_entity).alias("log_source"),
        F.lit(log_type).alias("log_type"),
        F.lit(None).cast("map<string,string>").alias("publishers"),
        F.lit(source_entity).alias("source_entity"),
        F.lit(source_service).alias("source_service"),
        meta["staged"].alias("staged"),
        meta["merge_by_keys"].alias("merge_by_keys"),
        meta["merge_window_mins"].alias("merge_window_mins"),
        dt.alias("dt"),
    ]

