"""Normalizer: canonical-type extraction as a generated map projection.

Reference behavior (streamalert/shared/normalize.py:175-219,238-334): each
log schema configures normalized types — a canonical name (ip_address,
userName, command, ...) mapped to one or more JSON paths in the record,
each optionally gated by a condition on another path's lower-cased string
value (is / is_not / in / not_in / contains / not_contains,
normalize.py:279-318). The result is attached to the record under
'streamalert_normalization' as {type: [{values: [...], function: ...}]}
plus a per-record UUID 'streamalert_record_id' (normalize.py:178-179,218).

Spark strategy: a pure generated projection — per normalized type an
F.array of the configured path extractions wrapped in F.when for
conditions, filtered of nulls, assembled with F.map_from_arrays. The record
id is F.uuid() in streaming; batch/oracle paths may pass a deterministic
id column instead (uuid is non-deterministic by nature, reference uses
uuid4 at normalize.py:178).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class PathSpec:
    """One extraction path with an optional condition (normalize.py:238-318)."""

    path: str                      # dotted path into the record struct
    function: str | None = None    # human-readable meaning, carried to artifacts
    condition: dict | None = None  # {'path': ..., 'is'/'in'/...: value}
    send_to_artifacts: bool = True # normalize.py:33,272-275


@dataclass
class NormalizationSpec:
    """All normalized types for one log schema: {type_name: [PathSpec, ...]}."""

    types: dict[str, list[PathSpec]] = field(default_factory=dict)

    @classmethod
    def from_config(cls, normalization: dict) -> "NormalizationSpec":
        """Parse the reference's raw conf format (normalize.py:130-173):
        {type: params} where params is either a single path as a list of
        strings (['detail', 'eventName']) or a list of dicts with keys
        ⊆ {path, function, condition, send_to_artifacts}; condition paths
        are lists too (normalize.py:287-291).
        """
        types: dict[str, list[PathSpec]] = {}
        for type_name, params in normalization.items():
            if not isinstance(params, list):
                raise ValueError(f"normalization params must be a list: {params!r}")
            if all(isinstance(p, str) for p in params):
                types[type_name] = [PathSpec(path=".".join(params))]
                continue
            valid_keys = {"path", "function", "condition", "send_to_artifacts"}
            if not all(isinstance(p, dict) and set(p) <= valid_keys for p in params):
                raise ValueError(
                    f"unsupported normalization params for {type_name}: {params!r}"
                )
            specs = []
            for p in params:
                cond = p.get("condition")
                if cond and isinstance(cond.get("path"), list):
                    cond = {**cond, "path": ".".join(cond["path"])}
                specs.append(PathSpec(
                    path=".".join(p["path"]),
                    function=p.get("function"),
                    condition=cond,
                    send_to_artifacts=p.get("send_to_artifacts", True),
                ))
            types[type_name] = specs
        return cls(types=types)

    @classmethod
    def for_log_schema(cls, schema) -> "NormalizationSpec":
        """Spec from a LogSchema's configuration.normalization block."""
        return cls.from_config(schema.normalization)


def _path_col(record: Column, path: str) -> Column:
    col = record
    for part in path.split("."):
        col = col[part]
    return col


def _condition_col(record: Column, cond: dict | None) -> Column:
    if not cond:
        return F.lit(True)
    target = F.lower(_path_col(record, cond["path"]).cast("string"))
    if "is" in cond:
        return target == F.lit(str(cond["is"]).lower())
    if "is_not" in cond:
        return target != F.lit(str(cond["is_not"]).lower())
    if "in" in cond:
        return target.isin([str(v).lower() for v in cond["in"]])
    if "not_in" in cond:
        return ~target.isin([str(v).lower() for v in cond["not_in"]])
    if "contains" in cond:
        return target.contains(str(cond["contains"]).lower())
    if "not_contains" in cond:
        return ~target.contains(str(cond["not_contains"]).lower())
    raise ValueError(f"unknown normalization condition: {cond}")


class Normalizer:
    def __init__(self, spec: NormalizationSpec):
        self.spec = spec
        # record column name -> normalization column, built once: it
        # references the record by name, so it serves every frame
        self._columns: dict[str, Column] = {}

    def normalization_col(self, record: Column) -> Column:
        """map<string, array<struct<values:array<string>, function:string,
        send_to_artifacts:boolean>>> — the Spark shape of
        'streamalert_normalization'.

        Built from plain CASE/struct expressions — deliberately NO
        higher-order array lambdas (array_compact/filter): those are
        interpreted, and Catalyst's generate-pushdown can duplicate this
        whole expression into a scan-side filter, doubling its cost.
        Entries whose condition failed carry an empty values array;
        downstream explodes drop them for free.
        """
        empty = F.array().cast("array<string>")
        keys, vals = [], []
        for type_name, paths in self.spec.types.items():
            entries = []
            for ps in paths:
                value = _path_col(record, ps.path).cast("string")
                gated = F.when(
                    _condition_col(record, ps.condition) & value.isNotNull(),
                    F.array(value),
                ).otherwise(empty)
                entries.append(
                    F.struct(
                        gated.alias("values"),
                        F.lit(ps.function).cast("string").alias("function"),
                        F.lit(ps.send_to_artifacts).alias("send_to_artifacts"),
                    )
                )
            keys.append(F.lit(type_name))
            vals.append(F.array(*entries))
        return F.map_from_arrays(F.array(*keys), F.array(*vals))

    def apply(self, df: DataFrame, record_col: str = "record",
              record_id: Column | None = None) -> DataFrame:
        """Attach streamalert_normalization + streamalert_record_id."""
        # built per call: F.uuid() draws its seed when it is built
        rid = record_id if record_id is not None else F.uuid()
        if record_col not in self._columns:
            self._columns[record_col] = self.normalization_col(F.col(record_col))
        return df.withColumns({
            "streamalert_normalization": self._columns[record_col],
            "streamalert_record_id": rid.cast("string"),
        })

    @staticmethod
    def values_for_type(df: DataFrame, type_name: str) -> Column:
        """Rule-side accessor get_values_for_normalized_type
        (normalize.py:337-352): distinct flat values of one type."""
        entries = F.col("streamalert_normalization")[type_name]
        return F.array_distinct(F.flatten(F.transform(entries, lambda e: e["values"])))
