"""Classifier: schema trial-matching + type coercion + pattern filters.

Reference pipeline (streamalert/classifier/classifier.py:116-200,241-275):
for each payload record, try every candidate log schema for its
(service, resource) in declared config order; the first schema whose parser
fully validates wins. Per record the parser does _parse -> _key_check ->
_convert_type -> _matches_log_patterns (parsers.py:450-501). Records failing
every schema are counted as invalid (classifier.py:202-215).

Spark strategy — all expression-generated, no UDFs:
- each candidate schema contributes a validity predicate; the chosen schema
  index is the first true one (ordered CASE WHEN — the columnar analogue of
  first-match-wins trial parsing);
- a per-schema output DataFrame projects the typed struct (coercion table in
  schema/types.py, reference parsers.py:294-369) with optional-key backfill
  (parsers.py:157-171) and the log_patterns fnmatch filter translated to
  SQL LIKE (parsers.py:173-221);
- invalid records split into a quarantine DataFrame with the raw payload
  preserved (classifier.py:202-215 invalid accounting).

Scale: classification is a single projection pass over the scan — no
shuffle, no Python. At 100 TB the cost is one from_json per candidate
schema; routing (service, resource) -> 1-2 candidates keeps that constant.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import cached_property
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streamalert_spark.parsers.base import get_parser
from streamalert_spark.schema.registry import LogSchema, SchemaRegistry
from streamalert_spark.schema.types import coerce_boolean, type_default_expr


def glob_to_like(pattern: str) -> str:
    """fnmatch glob -> SQL LIKE pattern (parsers.py:173-221 semantics:
    '*' any run, '?' single char). LIKE specials are escaped."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def _coerce_field(col: Column, tok: Any, fmt: str = "json", csv_opts: dict | None = None) -> Column:
    """Per-field coercion with reference semantics (parsers.py:294-369).

    The input column holds the field's raw JSON/CSV text (or null).
    try_cast (not ANSI cast) so failures surface as nulls, which the
    validity check below turns into record invalidation — matching the
    reference's 'parse failure invalidates the record' without ever
    failing the task.

    ``fmt`` is the enclosing parser: a nested dict token inside a CSV log
    is a nested CSV column (parsers.py:732-740), inside JSON it re-parses
    as JSON.
    """
    if isinstance(tok, str):
        if tok == "string":
            return col
        if tok == "integer":
            # reference int() accepts '123'; reject floats like '1.5'
            return col.try_cast("bigint")
        if tok == "float":
            return col.try_cast("double")
        if tok == "boolean":
            return coerce_boolean(col)
        raise ValueError(f"unknown token {tok!r}")
    if isinstance(tok, dict) and not tok:
        return F.from_json(col, "map<string,string>")
    if isinstance(tok, dict):
        ddl = ", ".join(f"`{k}` string" for k in tok)
        if fmt == "csv":
            inner = F.from_csv(col, ddl, csv_opts or {})
        else:
            inner = F.from_json(col, ddl)
        return F.struct(*[_coerce_field(inner[k], v, fmt, csv_opts).alias(k) for k, v in tok.items()])
    if isinstance(tok, list):
        return F.from_json(col, "array<string>")
    raise ValueError(f"unknown token {tok!r}")


def coerce_struct(parsed: Column, schema: LogSchema) -> Column:
    """Typed struct with optional-key backfill (defaults per §1.2)."""
    optional = set(schema.optional_top_level_keys)
    fmt = "csv" if schema.parser == "csv" else "json"
    csv_opts = {"sep": schema.configuration.get("delimiter", ",")}
    fields = []
    for name, tok in schema.schema.items():
        coerced = _coerce_field(parsed[name], tok, fmt, csv_opts)
        if name in optional:
            coerced = F.coalesce(coerced, type_default_expr(tok))
        fields.append(coerced.alias(name))
    return F.struct(*fields)


def coercion_valid(parsed: Column, typed: Column, schema: LogSchema) -> Column:
    """A required field whose raw text was present but whose cast produced
    null means a type failure -> record invalid (parsers.py:332-347).
    Booleans never fail (lenient semantics); strings never fail."""
    conds = []
    for name, tok in schema.schema.items():
        if tok in ("integer", "float"):
            raw_present = parsed[name].isNotNull() & (F.trim(parsed[name]) != "")
            conds.append(~raw_present | typed[name].isNotNull())
        elif isinstance(tok, (dict, list)) and tok:
            conds.append(parsed[name].isNull() | typed[name].isNotNull())
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def log_patterns_filter(typed: Column, schema: LogSchema) -> Column:
    """fnmatch log_patterns: ALL fields must match ANY of their globs
    (parsers.py:173-221). Dotted field paths address nested structs, and
    a dict pattern value recurses into the nested record
    (parsers.py:195-197). A pattern key not declared in the schema rejects
    every record (parsers.py:205-212 — e.g. the shipped pan.json declares
    a flat 'type' key that only exists nested under 'message')."""
    def _declared(path: list[str]) -> bool:
        tok: Any = schema.schema
        for part in path:
            if not isinstance(tok, dict) or part not in tok:
                return False
            tok = tok[part]
        return True

    def _walk(patterns: dict, prefix: list[str], conds: list[Column]) -> None:
        for key, val in patterns.items():
            path = prefix + [key]
            if isinstance(val, dict):
                _walk(val, path, conds)
                continue
            globs = [val] if isinstance(val, str) else val
            if not _declared(path):
                conds.append(F.lit(False))
                continue
            field = typed
            for part in path:
                field = field[part]
            any_of = None
            for g in globs:
                like = field.cast("string").like(glob_to_like(g))
                any_of = like if any_of is None else (any_of | like)
            if any_of is not None:
                conds.append(any_of)

    conds: list[Column] = []
    _walk(schema.log_patterns, [], conds)
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


@dataclass
class ClassifiedBatch:
    """Result of classifying one source batch: per-log-type typed frames +
    the quarantine frame of records that matched no schema."""

    by_log_type: dict[str, DataFrame]
    build_invalid: Callable[[], DataFrame] = field(repr=False)

    @cached_property
    def invalid(self) -> DataFrame:
        """Built on first access: the detection path never reads it."""
        return self.build_invalid()


class Classifier:
    def __init__(self, registry: SchemaRegistry):
        self.registry = registry
        # per candidate group: the parse/validity/coercion columns. They
        # reference columns by name only, so one build serves every frame
        # (micro-batch) classified on the same route.
        self._columns: dict[tuple, tuple] = {}

    def _group_columns(self, prepared: list, idxs: list[int], rcol: str,
                       has_env: bool) -> tuple[Column, list[tuple[Column, list[Column]]]]:
        """(trials struct, [(row condition, output columns)] per candidate)
        for candidates ``idxs`` sharing one exploded row shape."""
        key = (rcol, has_env, tuple((i, id(prepared[i][0])) for i in idxs))
        hit = self._columns.get(key)
        if hit is not None:
            return hit[0], hit[1]
        trials = F.struct(*[
            prepared[i][1].parse_expr(prepared[i][0], F.col(rcol)).alias(f"t{i}")
            for i in idxs
        ])
        valids = {
            i: prepared[i][1].valid_expr(
                prepared[i][0], F.col("_sa_raw"), F.col(f"_sa_t.t{i}"))
            for i in idxs
        }
        outs = []
        # first-match-wins: schema i applies only where schemas 0..i-1 failed.
        # Negation applies within a shared row shape; differing row shapes
        # (json_path explode) are disjoint by source construction in the
        # reference config.
        for i in idxs:
            schema = prepared[i][0]
            parsed = F.col(f"_sa_t.t{i}")
            cond = valids[i]
            for j in idxs:
                if j < i:
                    cond = cond & ~valids[j]
            typed = coerce_struct(parsed, schema)
            cond = cond & coercion_valid(parsed, typed, schema) & log_patterns_filter(typed, schema)
            cols = [typed.alias("record"), F.lit(schema.name).alias("log_schema_type")]
            if has_env:
                cols.append(F.col("streamalert_envelope_keys"))
            outs.append((cond, cols))
        # the schemas stay referenced, so their ids in the key stay unique
        self._columns[key] = (trials, outs, [prepared[i][0] for i in idxs])
        return trials, outs

    def classify(
        self,
        df: DataFrame,
        raw_col: str = "value",
        service: str = "",
        resource: str = "",
        keep_cols: list[str] | None = None,
    ) -> ClassifiedBatch:
        """Trial-parse ``df[raw_col]`` against the candidate schemas for
        (service, resource), first full parse wins (classifier.py:116-149).
        """
        candidates = self.registry.candidates(service, resource)
        keep_cols = keep_cols or []

        # Row-expansion steps differ per schema (json_path/envelope), so each
        # candidate gets its own exploded view; the chosen-schema predicate
        # is evaluated on that view.
        prepared: list[tuple[LogSchema, Any, DataFrame, str]] = []
        for schema in candidates:
            p = get_parser(schema.parser)
            pdf, rcol = p.explode(df, raw_col, schema)
            prepared.append((schema, p, pdf, rcol))

        # Candidates sharing an exploded frame evaluate their parses together
        # in ONE projection, materialized through explode(array(...)): the
        # Generate barrier stops predicate pushdown from re-inlining the parse
        # expression into each validity/coercion reference (which would run
        # from_csv/from_json once per field — a ~20x regression measured at
        # sf0.1). Each candidate's parse runs exactly once per row.
        groups: dict[tuple[int, str], list[int]] = {}
        for i, (_, _, pdf, rcol) in enumerate(prepared):
            groups.setdefault((id(pdf), rcol), []).append(i)

        frames: dict[int, DataFrame] = {}
        for (_, rcol), idxs in groups.items():
            pdf = prepared[idxs[0]][2]
            extra = (["streamalert_envelope_keys"]
                     if "streamalert_envelope_keys" in pdf.columns else [])
            trials, outs = self._group_columns(prepared, idxs, rcol, bool(extra))
            bdf = pdf.select(
                *keep_cols, *extra,
                F.col(rcol).alias("_sa_raw"),
                F.explode(F.array(trials)).alias("_sa_t"),
            )
            for i, (cond, cols) in zip(idxs, outs):
                frames[i] = bdf.filter(cond).select(*keep_cols, *cols)
        by_log_type = {prepared[i][0].name: frames[i] for i in range(len(prepared))}

        return ClassifiedBatch(
            by_log_type=by_log_type,
            build_invalid=lambda: self._invalid(df, raw_col, keep_cols, prepared, groups))

    def _invalid(self, df: DataFrame, raw_col: str, keep_cols: list[str],
                 prepared: list, groups: dict) -> DataFrame:
        """Quarantine frame (classifier.py:202-215): a payload is invalid
        only when NO candidate accepts it. Base-shape candidates judge the
        original payload in one expression. Exploded-shape candidates
        (json_path, json_regex_key) judge their extracted records; a
        payload with an accepted record is carried back by its raw text
        (validity is a function of the text alone, so the anti-join is
        exact). Line-exploded CSV groups judge each line individually
        (parsers.py:705-712 — invalid lines within a matched payload are
        still bad records); lines whose payload another candidate accepts
        are excluded. Diagnostics path — the re-derived parses cost ~2
        evaluations per row, not ~20."""
        def _valid_any(idxs: list[int], raw: Column) -> Column:
            v = None
            for i in idxs:
                schema, p = prepared[i][0], prepared[i][1]
                e = p.valid_expr(schema, raw, p.parse_expr(schema, raw))
                v = e if v is None else (v | e)
            return v

        base_valid = None
        accepted: DataFrame | None = None
        line_groups: list[tuple[DataFrame, str, list[int]]] = []
        for (_, rcol), idxs in groups.items():
            pdf = prepared[idxs[0]][2]
            if rcol == raw_col:
                v = _valid_any(idxs, F.col(raw_col))
                base_valid = v if base_valid is None else (base_valid | v)
            elif rcol == "_sa_csv_line":
                line_groups.append((pdf, rcol, idxs))
            else:
                ok = pdf.filter(_valid_any(idxs, F.col(rcol))).select(raw_col)
                accepted = ok if accepted is None else accepted.unionByName(ok)

        def _unaccepted(frame: DataFrame) -> DataFrame:
            return frame if accepted is None else frame.join(accepted, raw_col, "left_anti")

        invalid_frames: list[DataFrame] = []
        payloads = df if base_valid is None else df.filter(~base_valid)
        if base_valid is not None or not line_groups:
            # with line-shape candidates only, each payload is judged by
            # its lines below
            invalid_frames.append(
                _unaccepted(payloads).select(*keep_cols, F.col(raw_col).alias("raw")))
        for pdf, rcol, idxs in line_groups:
            group_invalid = ~_valid_any(idxs, F.col(rcol))
            if base_valid is not None:
                group_invalid = group_invalid & ~base_valid
            invalid_frames.append(
                _unaccepted(pdf.filter(group_invalid))
                .select(*keep_cols, F.col(rcol).alias("raw")))

        invalid = invalid_frames[0]
        for f in invalid_frames[1:]:
            invalid = invalid.unionByName(f)
        return invalid
