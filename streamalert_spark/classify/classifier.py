"""Classifier: schema trial-matching + type coercion + pattern filters.

Reference pipeline (streamalert/classifier/classifier.py:116-200,241-275):
for each payload record, try every candidate log schema for its
(service, resource) in declared config order; the first schema whose
parser fully validates wins. Per record the parser does _parse ->
_key_check -> _convert_type -> _matches_log_patterns (parsers.py:450-501).
Records failing every schema are counted as invalid (classifier.py:202-215).

Spark strategy — all expression-generated, no UDFs:
- candidates sharing a row shape parse together into one trial struct
  behind a Generate barrier (the group's trial frame);
- each candidate contributes one ``accepted`` column: its parser's
  validity (parse + key check) AND its coercion validity (coercion table
  in schema/types.py, reference parsers.py:294-369). It is the one
  acceptance rule; both outputs below are cuts of the trial frame by it;
- a log type takes the rows its candidate accepted and no earlier
  candidate did (ordered negation — the columnar analogue of
  first-match-wins trial parsing), projects the typed struct with
  optional-key backfill (parsers.py:157-171) and keeps the rows its
  log_patterns fnmatch filter, translated to SQL LIKE, passes
  (parsers.py:173-221); pattern-rejected rows are dropped, not
  quarantined;
- the quarantine holds the rows no candidate accepted, with the raw
  payload preserved (classifier.py:202-215 invalid accounting).

Scale: classification is a single projection pass over the scan — no
shuffle, no Python. At 100 TB the cost is one from_json per candidate
schema; routing (service, resource) -> 1-2 candidates keeps that constant.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import cached_property, reduce
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
    """A field whose raw text was present but whose cast produced null
    means a type failure -> record invalid (parsers.py:332-347), for an
    optional field too: numbers are judged on the cast itself, before the
    optional-key backfill could mask it. Booleans never fail (lenient
    semantics); strings never fail."""
    conds = []
    for name, tok in schema.schema.items():
        if tok in ("integer", "float"):
            raw_present = parsed[name].isNotNull() & (F.trim(parsed[name]) != "")
            conds.append(~raw_present | _coerce_field(parsed[name], tok).isNotNull())
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
    the quarantine frame of records that no schema accepted."""

    by_log_type: dict[str, DataFrame]
    build_invalid: Callable[[], DataFrame] = field(repr=False)

    @cached_property
    def invalid(self) -> DataFrame:
        """Built on first access: the detection path never reads it."""
        return self.build_invalid()


class Classifier:
    def __init__(self, registry: SchemaRegistry):
        self.registry = registry
        # per candidate group: the parse/acceptance/coercion columns. They
        # reference columns by name only, so one build serves every frame
        # (micro-batch) classified on the same route.
        self._columns: dict[tuple, tuple] = {}

    def _group_columns(self, prepared: list, idxs: list[int], rcol: str, has_env: bool
                       ) -> tuple[Column, list[tuple[Column, list[Column]]], Column]:
        """(trials struct, [(row condition, output columns)] per candidate,
        any-candidate-accepted condition) for candidates ``idxs`` sharing
        one exploded row shape."""
        key = (rcol, has_env, tuple((i, id(prepared[i][0])) for i in idxs))
        hit = self._columns.get(key)
        if hit is not None:
            return hit[:3]
        trials = F.struct(*[
            prepared[i][1].parse_expr(prepared[i][0], F.col(rcol)).alias(f"t{i}")
            for i in idxs
        ])
        outs = []
        # first-match-wins: candidate i is accepted when its parse, key
        # check and coercion all succeed, and wins the row only where no
        # earlier candidate was accepted (parsers.py:450-501). Negation
        # applies within a shared row shape; differing row shapes
        # (json_path explode) are disjoint by source construction in the
        # reference config.
        earlier: Column | None = None
        for i in idxs:
            schema, p = prepared[i][0], prepared[i][1]
            parsed = F.col(f"_sa_t.t{i}")
            typed = coerce_struct(parsed, schema)
            accepted = (p.valid_expr(schema, F.col("_sa_raw"), parsed)
                        & coercion_valid(parsed, typed, schema))
            cond = accepted if earlier is None else accepted & ~earlier
            earlier = accepted if earlier is None else earlier | accepted
            cols = [typed.alias("record"), F.lit(schema.name).alias("log_schema_type")]
            if has_env:
                cols.append(F.col("streamalert_envelope_keys"))
            outs.append((cond & log_patterns_filter(typed, schema), cols))
        # the schemas stay referenced, so their ids in the key stay unique
        self._columns[key] = (trials, outs, earlier, [prepared[i][0] for i in idxs])
        return trials, outs, earlier

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
        trial_frames: list[tuple[DataFrame, str, Column]] = []
        for (_, rcol), idxs in groups.items():
            pdf = prepared[idxs[0]][2]
            extra = (["streamalert_envelope_keys"]
                     if "streamalert_envelope_keys" in pdf.columns else [])
            trials, outs, accepted = self._group_columns(prepared, idxs, rcol, bool(extra))
            # raw_col: the payload text the quarantine anti-joins on
            bdf = pdf.select(
                *keep_cols, *extra, raw_col,
                F.col(rcol).alias("_sa_raw"),
                F.explode(F.array(trials)).alias("_sa_t"),
            )
            trial_frames.append((bdf, rcol, accepted))
            for i, (cond, cols) in zip(idxs, outs):
                frames[i] = bdf.filter(cond).select(*keep_cols, *cols)
        by_log_type = {prepared[i][0].name: frames[i] for i in range(len(prepared))}

        return ClassifiedBatch(
            by_log_type=by_log_type,
            build_invalid=lambda: _invalid(df, raw_col, keep_cols, trial_frames))


def _invalid(df: DataFrame, raw_col: str, keep_cols: list[str],
             trial_frames: list[tuple[DataFrame, str, Column]]) -> DataFrame:
    """Quarantine frame (classifier.py:202-215): the trial rows where no
    candidate's accepted column holds, the same column that routes rows
    to ``by_log_type`` (log patterns filter accepted rows, they never
    quarantine them). A base-shape group's rows are the payloads. An
    exploded group (json_path, json_regex_key) accepts a payload through
    any of its records and excuses it by its raw text; acceptance is a
    function of the text alone, so the anti-join is exact. Line-exploded
    CSV groups judge each line (parsers.py:705-712: invalid lines within
    a matched payload are still bad records), excusing lines whose payload
    a payload-level group accepts. With no base-shape group, a payload
    whose records all fail, or that yields none, is quarantined whole;
    with line groups only, each payload is judged by its lines."""
    anchor = next((t for t in trial_frames if t[1] == raw_col), None)
    accepted: list[DataFrame] = []
    lines: list[DataFrame] = []
    for bdf, rcol, ok in trial_frames:
        if rcol == "_sa_csv_line":
            lines.append(bdf.filter(~ok))
        elif anchor is None or bdf is not anchor[0]:
            accepted.append(bdf.filter(ok).select(raw_col))

    def _unaccepted(frame: DataFrame) -> DataFrame:
        if not accepted:
            return frame
        return frame.join(reduce(DataFrame.union, accepted), raw_col, "left_anti")

    invalid_frames: list[DataFrame] = []
    if anchor is not None:
        bdf, _, ok = anchor
        invalid_frames.append(
            _unaccepted(bdf.filter(~ok)).select(*keep_cols, F.col(raw_col).alias("raw")))
        accepted.append(bdf.filter(ok).select(raw_col))
    elif not lines:
        invalid_frames.append(
            _unaccepted(df).select(*keep_cols, F.col(raw_col).alias("raw")))
    for bdf in lines:
        invalid_frames.append(
            _unaccepted(bdf).select(*keep_cols, F.col("_sa_raw").alias("raw")))
    return reduce(DataFrame.unionByName, invalid_frames)
