"""Model-based fidelity tests: a seeded random corpus runs through the
Spark classifier ONCE per family, and every record's outcome is compared
against a pure-Python model implementing the reference's loop semantics
verbatim (parsers.py). One Spark job per test keeps this fast while
covering hundreds of adversarial payloads."""

from __future__ import annotations

import csv
import fnmatch
import json
import random

from pyspark.sql import functions as F

from streamalert_spark.classify.classifier import Classifier
from streamalert_spark.schema.registry import LogSchema, SchemaRegistry


def _classify_values(spark, schema: LogSchema, payloads: list[str]):
    reg = SchemaRegistry()
    reg.register(schema)
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "idx long, value string")
    batch = Classifier(reg).classify(df, raw_col="value", keep_cols=["idx"])
    return {r["idx"]: r["record"].asDict() for r in batch.by_log_type[schema.name].collect()}


# ------------------------------------------------------------------ KV model

def _kv_model(data: str, schema_keys: list[str], delim: str = " ", sep: str = "="):
    """The reference KV loop (parsers.py:775-812), verbatim semantics."""
    kv_payload: dict = {}
    fields = [f for f in data.split(delim) if f]
    if len(fields) != len(schema_keys):
        return None
    for index, fld in enumerate(fields):
        if sep not in fld:
            continue
        key, value = fld.split(sep, 1)
        if key in kv_payload:
            kv_payload[schema_keys[index]] = value
        else:
            kv_payload[key] = value
    # strict key check (parsers.py:244-272, no optionals here)
    if set(kv_payload) != set(schema_keys):
        return None
    return kv_payload


def test_kv_random_corpus_matches_reference_model(spark):
    rng = random.Random(20240813)
    keys = ["alpha", "beta", "gamma"]
    tokens = keys + ["alpha", "zzz", "beta"]
    payloads = []
    for _ in range(300):
        nf = rng.randint(1, 5)
        parts = []
        for _ in range(nf):
            k = rng.choice(tokens)
            if rng.random() < 0.15:
                parts.append(k)  # no separator
            else:
                parts.append(f"{k}={rng.choice(['1', 'x', 'a=b', ''])}")
        if rng.random() < 0.1:
            parts.insert(rng.randint(0, len(parts)), "")  # blank field
        payloads.append(" ".join(parts))

    schema = LogSchema(
        name="m:kv",
        schema={k: "string" for k in keys},
        parser="kv",
    )
    got = _classify_values(spark, schema, payloads)
    for i, p in enumerate(payloads):
        want = _kv_model(p, keys)
        if want is None:
            assert i not in got, f"payload {p!r} should be invalid, got {got.get(i)}"
        else:
            assert i in got, f"payload {p!r} should be valid (model: {want})"
            assert got[i] == want, f"payload {p!r}: {got[i]} != {want}"


# ------------------------------------------------------------- keyset model

def test_json_keyset_random_corpus_matches_reference_model(spark):
    """Strict key-set equality modulo optionals (parsers.py:244-272) +
    optional backfill defaults (parsers.py:138-171)."""
    rng = random.Random(99)
    required = {"a", "b"}
    optional = {"o1", "o2"}
    pool = list(required | optional | {"x", "y"})
    payloads = []
    for _ in range(300):
        ks = rng.sample(pool, rng.randint(0, len(pool)))
        payloads.append(json.dumps({k: "v" for k in ks}))

    schema = LogSchema(
        name="m:json",
        schema={"a": "string", "b": "string", "o1": "string", "o2": "string"},
        configuration={"optional_top_level_keys": ["o1", "o2"]},
    )
    got = _classify_values(spark, schema, payloads)
    for i, p in enumerate(payloads):
        ks = set(json.loads(p))
        valid = required <= ks <= (required | optional)
        if not valid:
            assert i not in got, f"keys {sorted(ks)} should be invalid"
        else:
            assert i in got, f"keys {sorted(ks)} should be valid"
            rec = got[i]
            for o in optional - ks:
                assert rec[o] == "", f"optional {o} not backfilled: {rec}"


# ---------------------------------------------------------- coercion model

def test_coercion_random_corpus_matches_reference_model(spark):
    """integer/float/boolean coercion semantics (parsers.py:294-369):
    int() parse failure invalidates; falsy raw values are skipped;
    boolean is str(value).lower() == 'true'."""
    rng = random.Random(7)
    int_vals = ["1", "-3", "1.5", "abc", "", "007", "9" * 18]
    bool_vals = ["true", "True", "TRUE", "false", "yes", "1", ""]
    payloads = []
    for _ in range(200):
        payloads.append(json.dumps({
            "n": rng.choice(int_vals),
            "flag": rng.choice(bool_vals),
        }))

    schema = LogSchema(name="m:co", schema={"n": "integer", "flag": "boolean"})
    got = _classify_values(spark, schema, payloads)
    for i, p in enumerate(payloads):
        d = json.loads(p)
        raw_n = d["n"]
        if raw_n:  # falsy values skip conversion (parsers.py:321-323)
            try:
                want_n = int(raw_n)
            except ValueError:
                assert i not in got, f"{raw_n!r} should invalidate"
                continue
        else:
            want_n = None
        assert i in got, f"payload {p!r} should be valid"
        rec = got[i]
        assert rec["n"] == want_n, f"{raw_n!r}: {rec['n']} != {want_n}"
        assert rec["flag"] == (str(d["flag"]).lower() == "true")


# ------------------------------------------------------------ trial model

def _convert_model(rec: dict, schema: LogSchema) -> dict | None:
    """The reference key check and type conversion (parsers.py:244-369):
    strict key set modulo optionals, optional backfill, falsy values
    skipped, int()/float() failures reject, lenient booleans."""
    optional = set(schema.optional_top_level_keys)
    if not schema.required_keys <= set(rec) <= set(schema.schema):
        return None
    out = dict(rec)
    for key, tok in schema.schema.items():
        if key not in out:
            out[key] = {"string": "", "integer": 0, "float": 0.0, "boolean": False}[tok]
            assert key in optional
        value = out[key]
        if not value:
            continue
        try:
            out[key] = {"string": str, "integer": int, "float": float,
                        "boolean": lambda v: str(v).lower() == "true"}[tok](value)
        except (ValueError, TypeError):
            return None
    return out


def _trial_model(records: list, schemas: list[LogSchema]) -> list[str]:
    """One outcome per record under the reference trial loop
    (classifier.py:116-215, parsers.py:450-501): the first schema whose
    parse, key check and conversion accept the record wins it, then its
    fnmatch log patterns keep or filter it; a record no schema accepts is
    invalid. A record is a parsed dict, or None where the parse failed."""
    outcomes = []
    for rec in records:
        outcome = "invalid"
        for schema in schemas:
            typed = _convert_model(rec, schema) if isinstance(rec, dict) else None
            if typed is None:
                continue
            keep = all(any(fnmatch.fnmatchcase(str(typed[k]), g) for g in globs)
                       for k, globs in schema.log_patterns.items())
            outcome = schema.name if keep else "filtered"
            break
        outcomes.append(outcome)
    return outcomes


def _landings(spark, schemas: list[LogSchema], payloads: list[str]):
    """Classify ``payloads`` on a route of ``schemas``: ({idx: [log types]},
    [(idx, raw) of the quarantine])."""
    reg = SchemaRegistry()
    for s in schemas:
        reg.register(s)
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "idx long, value string")
    batch = Classifier(reg).classify(df, raw_col="value", keep_cols=["idx"])
    got: dict[int, list[str]] = {}
    for name, frame in batch.by_log_type.items():
        for r in frame.select("idx").collect():
            got.setdefault(r["idx"], []).append(name)
    return got, sorted((r["idx"], r["raw"]) for r in batch.invalid.collect())


_TRIAL_ROUTE = [
    LogSchema(name="t:int", schema={"n": "integer", "tag": "string", "cnt": "integer"},
              configuration={"optional_top_level_keys": ["cnt"]}),
    LogSchema(name="t:flt", schema={"n": "float", "tag": "string", "ok": "boolean"},
              configuration={"optional_top_level_keys": ["ok"],
                             "log_patterns": {"tag": ["a*", "?b"]}}),
    LogSchema(name="t:str", schema={"n": "string", "tag": "string"}),
]


def test_trial_route_random_corpus_matches_reference_model(spark):
    """A three-candidate JSON route: every payload lands where the
    reference trial loop puts it (one log type, the quarantine, or
    filtered by the winner's log patterns). A payload that parses under
    an earlier schema but fails its conversion falls through to the next
    one. Field values are JSON integers and strings, plus booleans for
    the boolean field."""
    rng = random.Random(4242)
    pools = {
        "n": [5, -3, 0, "12", "007", "abc", "1.5", "", "2e3", "x"],
        "tag": ["a1", "ab", "bb", "cb", "", "zz"],
        "cnt": [3, "4", "four", ""],
        "ok": [True, False, "True", "no"],
        "zz": ["extra"],
    }
    payloads = []
    for _ in range(400):
        keys = ["n", "tag"] if rng.random() < 0.9 else []
        keys += [k for k in ("cnt", "ok", "zz", "n", "tag")
                 if k not in keys and rng.random() < 0.25]
        payloads.append(json.dumps({k: rng.choice(pools[k]) for k in keys}))
    payloads += ["garbage", "[1, 2]", '"str"', "{}"]

    records = []
    for p in payloads:
        try:
            records.append(json.loads(p))
        except ValueError:
            records.append(None)
    want = _trial_model(records, _TRIAL_ROUTE)
    got, invalid = _landings(spark, _TRIAL_ROUTE, payloads)
    assert set(want) >= {"t:int", "t:flt", "t:str", "invalid", "filtered"}
    for i, (p, w) in enumerate(zip(payloads, want)):
        assert got.get(i, []) == ([w] if w.startswith("t:") else []), (p, w, got.get(i))
    assert invalid == [(i, p) for i, (p, w) in enumerate(zip(payloads, want))
                       if w == "invalid"]


def test_csv_line_route_random_corpus_matches_reference_model(spark):
    """A CSV route whose payloads hold one to three lines: every line
    lands where the reference puts it (parsers.py:705-712: each line is a
    record; csv.reader, exact column count, conversion, log patterns).
    Rejected lines are quarantined one by one. Fields are non-empty and
    unquoted."""
    schema = LogSchema(
        name="t:csv", schema={"a": "integer", "b": "string", "c": "float"},
        parser="csv", configuration={"log_patterns": {"b": ["k*"]}})
    rng = random.Random(77)
    pools = [["1", "-2", "x", "07"], ["k1", "kx", "m"], ["1.5", "y", "3"], ["z"]]
    payloads, lines = [], []
    for i in range(200):
        rows = []
        for _ in range(rng.randint(1, 3)):
            width = rng.choice([2, 3, 3, 3, 4])
            rows.append(",".join(rng.choice(pools[c]) for c in range(width)))
        payloads.append("\n".join(rows))
        lines += [(i, row) for row in rows]

    records = []
    for _, line in lines:
        fields = next(csv.reader([line]))
        records.append(dict(zip(schema.schema, fields)) if len(fields) == 3 else None)
    want = _trial_model(records, [schema])
    got, invalid = _landings(spark, [schema], payloads)
    assert set(want) == {"t:csv", "invalid", "filtered"}
    for i in range(len(payloads)):
        n = sum(1 for (j, _), w in zip(lines, want) if j == i and w == "t:csv")
        assert got.get(i, []) == ["t:csv"] * n, (payloads[i], got.get(i))
    assert invalid == sorted((j, line) for (j, line), w in zip(lines, want)
                             if w == "invalid")


def test_coercion_failure_falls_through_to_next_schema(spark):
    """{"n": "abc"} parses under {"n": integer} but fails its conversion,
    so the reference tries the next schema, {"n": string}, which takes
    it."""
    got, invalid = _landings(spark, [
        LogSchema(name="t:int", schema={"n": "integer"}),
        LogSchema(name="t:str", schema={"n": "string"}),
    ], ['{"n": "abc"}', '{"n": 5}'])
    assert got == {0: ["t:str"], 1: ["t:int"]}
    assert invalid == []


def test_base_route_outputs_partition_the_input(spark):
    """Without log patterns, each payload of a base-shape route lands in
    exactly one log type or in the quarantine."""
    payloads = ['{"n": 5}', '{"n": "abc"}', '{"n": 1, "m": 2}', "garbage",
                '{"n": "x", "m": "7"}', '{"n": "x", "m": "q"}']
    reg = SchemaRegistry()
    reg.register(LogSchema(name="t:int", schema={"n": "integer"}))
    reg.register(LogSchema(name="t:pair", schema={"n": "string", "m": "integer"}))
    df = spark.createDataFrame([(p,) for p in payloads], "value string")
    batch = Classifier(reg).classify(df, raw_col="value")
    counts = [f.count() for f in batch.by_log_type.values()]
    assert counts == [1, 2]
    assert sum(counts) + batch.invalid.count() == len(payloads)
