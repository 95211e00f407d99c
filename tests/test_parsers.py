"""Parser-family unit tests, mirroring the reference's per-format tests
(tests/unit/streamalert/classifier/test_parsers_*.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamalert_spark.classify.classifier import Classifier
from streamalert_spark.schema.registry import LogSchema, SchemaRegistry


def _classify_one(spark, schema: LogSchema, payloads: list[str]):
    reg = SchemaRegistry()
    reg.register(schema)
    df = spark.createDataFrame([(p,) for p in payloads], "value string")
    return Classifier(reg).classify(df, raw_col="value")


# ---------------------------------------------------------------- JSON

def test_json_strict_keyset_rejects_extra_keys(spark):
    """parsers.py:256-272 — extra keys reject the record."""
    schema = LogSchema(name="t:json", schema={"a": "string", "b": "integer"})
    batch = _classify_one(spark, schema, [
        '{"a": "x", "b": 1}',            # valid
        '{"a": "x", "b": 1, "c": 2}',    # extra key -> invalid
        '{"a": "x"}',                     # missing required -> invalid
    ])
    rows = batch.by_log_type["t:json"].collect()
    assert len(rows) == 1
    assert rows[0]["record"]["a"] == "x" and rows[0]["record"]["b"] == 1
    assert batch.invalid.count() == 2


def test_json_optional_keys_backfilled(spark):
    """parsers.py:138-171 — optional keys get type defaults."""
    schema = LogSchema(
        name="t:opt",
        schema={"a": "string", "n": "integer", "f": "float", "flag": "boolean", "lst": []},
        configuration={"optional_top_level_keys": ["n", "f", "flag", "lst"]},
    )
    batch = _classify_one(spark, schema, ['{"a": "x"}'])
    row = batch.by_log_type["t:opt"].collect()[0]["record"]
    assert row["a"] == "x"
    assert row["n"] == 0
    assert row["f"] == 0.0
    assert row["flag"] is False
    assert row["lst"] == []


def test_json_type_coercion_failure_invalidates(spark):
    """parsers.py:332-339 — unparseable integer invalidates the record."""
    schema = LogSchema(name="t:int", schema={"n": "integer"})
    batch = _classify_one(spark, schema, ['{"n": 5}', '{"n": "5"}', '{"n": "abc"}'])
    vals = sorted(r["record"]["n"] for r in batch.by_log_type["t:int"].collect())
    assert vals == [5, 5]
    assert [r["raw"] for r in batch.invalid.collect()] == ['{"n": "abc"}']


def test_json_boolean_lenient_semantics(spark):
    """parsers.py:349-350 — str(value).lower() == 'true'."""
    schema = LogSchema(name="t:bool", schema={"b": "boolean"})
    batch = _classify_one(spark, schema, ['{"b": true}', '{"b": "True"}', '{"b": "yes"}', '{"b": 1}'])
    got = [r["record"]["b"] for r in batch.by_log_type["t:bool"].collect()]
    assert sorted(got) == [False, False, True, True]


def test_json_path_explode_with_envelope(spark):
    """parsers.py:410-448 — logEvents[*].message + envelope keys."""
    schema = LogSchema(
        name="t:cw",
        schema={"msg": "string", "n": "integer"},
        configuration={
            "json_path": "logEvents[*].message",
            "embedded_json": True,
            "envelope_keys": {"logGroup": "string", "owner": "string"},
        },
    )
    payload = (
        '{"logGroup": "g1", "owner": "o1", "logEvents": ['
        '{"message": "{\\"msg\\": \\"a\\", \\"n\\": 1}"},'
        '{"message": "{\\"msg\\": \\"b\\", \\"n\\": 2}"}]}'
    )
    batch = _classify_one(spark, schema, [payload])
    rows = batch.by_log_type["t:cw"].orderBy("record.n").collect()
    assert len(rows) == 2
    assert rows[0]["record"]["msg"] == "a"
    assert rows[1]["record"]["n"] == 2
    assert rows[0]["streamalert_envelope_keys"]["logGroup"] == "g1"
    assert rows[1]["streamalert_envelope_keys"]["owner"] == "o1"


def test_json_regex_key_extracts_blob(spark):
    """parsers.py:520,565-593 — regex JSON-blob extraction from a text field;
    no match or non-dict blob invalidates the record."""
    schema = LogSchema(
        name="t:regex",
        schema={"msg": "string", "n": "integer"},
        configuration={"json_regex_key": "message"},
    )
    batch = _classify_one(spark, schema, [
        '{"message": "prefix {\\"msg\\": \\"a\\", \\"n\\": 7} suffix"}',  # valid
        '{"message": "no json blob here"}',                                # no match
        '{"message": "array [1, 2, 3] only"}',                             # non-dict blob
        '{"other": "missing the key"}',                                    # key absent
    ])
    rows = batch.by_log_type["t:regex"].collect()
    assert len(rows) == 1
    assert rows[0]["record"]["msg"] == "a" and rows[0]["record"]["n"] == 7


def test_log_patterns_filter(spark):
    """parsers.py:173-221 — fnmatch globs, ANY per field."""
    schema = LogSchema(
        name="t:pat",
        schema={"path": "string"},
        configuration={"log_patterns": {"path": ["/etc/*", "/usr/bin/*"]}},
    )
    batch = _classify_one(spark, schema, [
        '{"path": "/etc/passwd"}', '{"path": "/usr/bin/curl"}', '{"path": "/tmp/x"}',
    ])
    got = sorted(r["record"]["path"] for r in batch.by_log_type["t:pat"].collect())
    assert got == ["/etc/passwd", "/usr/bin/curl"]


# ---------------------------------------------------------------- CSV

def test_csv_strict_column_count(spark):
    """parsers.py:726-728 — exact column count required."""
    schema = LogSchema(name="t:csv", schema={"a": "string", "b": "integer", "c": "string"},
                       parser="csv")
    batch = _classify_one(spark, schema, ["x,1,y", "x,1", "x,1,y,z"])
    rows = batch.by_log_type["t:csv"].collect()
    assert len(rows) == 1
    assert rows[0]["record"]["b"] == 1
    assert batch.invalid.count() == 2


def test_csv_nested_column(spark):
    """parsers.py:732-740 — a column that is itself CSV."""
    schema = LogSchema(
        name="t:pan", schema={"outer": "string", "inner": {"x": "string", "y": "string"}},
        parser="csv",
        configuration={"nested_csv": {"inner": ["x", "y"]}},
    )
    batch = _classify_one(spark, schema, ['o,"1,2"'])
    row = batch.by_log_type["t:pan"].collect()[0]["record"]
    assert row["outer"] == "o"
    assert row["inner"]["x"] == "1" and row["inner"]["y"] == "2"


# ---------------------------------------------------------------- KV

def test_kv_parser(spark):
    """parsers.py:748-812 — delimiter/separator split, strict count."""
    schema = LogSchema(
        name="t:kv", schema={"type": "string", "msg": "string"},
        parser="kv",
        configuration={"delimiter": " ", "separator": "="},
    )
    batch = _classify_one(spark, schema, ["type=a msg=hello", "type=a", "noequals here"])
    rows = batch.by_log_type["t:kv"].collect()
    assert len(rows) == 1
    assert rows[0]["record"]["type"] == "a" and rows[0]["record"]["msg"] == "hello"
    assert batch.invalid.count() == 2


def test_csv_multi_line_payload(spark):
    """parsers.py:705-712 — one csv.reader pass yields a record per line
    (mirrors test_parsers_csv.py::test_nested_csv's sibling multi-record
    case): both lines parse, a mixed payload keeps its valid line and
    counts the bad one invalid."""
    schema = LogSchema(
        name="t:csvml", schema={"host": "string", "date": "string", "message": "string"},
        parser="csv",
    )
    batch = _classify_one(spark, schema, [
        "host-name,01-01-2018,contents\nhost-name-02,02-02-2018,contents-02",
        "host-ok,03-03-2018,fine\nonly,two",   # 2nd line under-width
        "trailing,newline,ok\n",               # terminator, not a new row
    ])
    rows = batch.by_log_type["t:csvml"].collect()
    hosts = sorted(r["record"]["host"] for r in rows)
    assert hosts == ["host-name", "host-name-02", "host-ok", "trailing"]
    inv = [r["raw"] for r in batch.invalid.collect()]
    assert inv == ["only,two"]


def test_csv_quoted_embedded_newline(spark):
    """A newline inside a quoted field stays IN the field (csv.reader
    semantics): the quote-parity line split only breaks records at
    newlines followed by an even number of quotes."""
    schema = LogSchema(
        name="t:csvnl", schema={"a": "string", "b": "string", "c": "string"},
        parser="csv",
    )
    payload = 'r1,"line1\nline2",end\nr2,plain,end2'
    batch = _classify_one(spark, schema, [payload])
    rows = sorted((r["record"]["a"], r["record"]["b"]) for r in
                  batch.by_log_type["t:csvnl"].collect())
    assert rows == [("r1", "line1\nline2"), ("r2", "plain")]
    assert batch.invalid.count() == 0


def test_pan_schema_reference_parity(spark):
    """The shipped pan schema (conf/schemas/pan.json): nested CSV message
    column, and a log_patterns key 'type' that only exists nested under
    'message' — the reference rejects every record for a pattern key
    missing from the record (parsers.py:205-212), so the shipped config
    classifies nothing; with the pattern nested properly, TRAFFIC rows
    classify and others are filtered."""
    import dataclasses
    import json as _json
    from pathlib import Path

    from streamalert_spark.schema.loader import load_conf_dir

    conf_dir = Path(__file__).resolve().parent.parent / "examples" / "conf"
    pan = load_conf_dir(conf_dir).get("pan")
    inner_keys = list(pan.schema["message"])
    inner = {k: f"i_{k}" for k in inner_keys}
    inner["type"] = "TRAFFIC"
    outer = {k: f"v_{k}" for k in pan.schema if k != "message"}
    line = ",".join(outer.values()) + ',"' + ",".join(inner.values()) + '"'

    batch = _classify_one(spark, pan, [line])
    assert batch.by_log_type["pan"].count() == 0          # reference parity
    # parse-shape quarantine only: pattern-rejected rows are filtered, not
    # quarantined (the line itself parses under the schema)
    assert batch.invalid.count() == 0

    fixed = dataclasses.replace(pan, configuration={
        **pan.configuration, "log_patterns": {"message": {"type": ["TRAFFIC"]}}})
    threat_line = line.replace("TRAFFIC", "THREAT")
    batch = _classify_one(spark, fixed, [line, threat_line])
    rows = batch.by_log_type["pan"].collect()
    assert len(rows) == 1
    assert rows[0]["record"]["message"]["type"] == "TRAFFIC"
    assert rows[0]["record"]["message"]["src"] == "i_src"


def test_csv_quoted_fields_and_literal_backslash(spark):
    """parsers.py:630-645 — quotechar wraps delimiters; escapechar defaults
    to None, so a backslash is a literal character."""
    schema = LogSchema(
        name="t:csvq", schema={"a": "string", "b": "string"}, parser="csv",
    )
    batch = _classify_one(spark, schema, ['"x,y",path\\to\\file'])
    rows = batch.by_log_type["t:csvq"].collect()
    assert len(rows) == 1
    assert rows[0]["record"]["a"] == "x,y"
    assert rows[0]["record"]["b"] == "path\\to\\file"


def test_kv_duplicate_keys_positional_fallback(spark):
    """parsers.py:800-806 — duplicate key assigns to the schema key at that
    field's position (reference test_extract_record_duplicate_fields)."""
    schema = LogSchema(
        name="t:kvdup",
        schema={"name": "string", "result": "string", "test": "string"},
        parser="kv",
    )
    batch = _classify_one(spark, schema, ["name=foo result=bar name=baz"])
    rows = batch.by_log_type["t:kvdup"].collect()
    assert len(rows) == 1
    rec = rows[0]["record"]
    assert rec["name"] == "foo" and rec["result"] == "bar" and rec["test"] == "baz"


def test_kv_blank_fields_and_first_separator_split(spark):
    """parsers.py:787,798 — blank fields dropped before the count check;
    value keeps everything after the FIRST separator."""
    schema = LogSchema(
        name="t:kvb",
        schema={"name": "string", "result": "string"},
        parser="kv",
        configuration={"separator": ":", "delimiter": ","},
    )
    batch = _classify_one(spark, schema, [
        "name:joe bob,result:success",     # reference test_parse
        ",,name:x,result:a:b:c,",          # blanks dropped; value 'a:b:c' (fold path)
        "name:y,result:d:e:f",             # first-sep split on the fast path too
    ])
    rows = {r["record"]["name"]: r["record"] for r in batch.by_log_type["t:kvb"].collect()}
    assert rows["joe bob"]["result"] == "success"
    assert rows["x"]["result"] == "a:b:c"
    assert rows["y"]["result"] == "d:e:f"


# ---------------------------------------------------------------- Syslog

def test_syslog_parser(spark):
    """parsers.py:815-844 — fixed 4-group regex."""
    schema = LogSchema(
        name="t:sys",
        schema={"timestamp": "string", "host": "string", "application": "string", "message": "string"},
        parser="syslog",
    )
    batch = _classify_one(spark, schema, [
        "Jan 10 19:35:33 vagrant-ubuntu-trusty-64 sudo: session opened for root",
        "not a syslog line",
    ])
    rows = batch.by_log_type["t:sys"].collect()
    assert len(rows) == 1
    rec = rows[0]["record"]
    assert rec["timestamp"] == "Jan 10 19:35:33"
    assert rec["host"] == "vagrant-ubuntu-trusty-64"
    assert rec["application"] == "sudo"
    assert rec["message"] == "session opened for root"
    assert batch.invalid.count() == 1


def test_syslog_pid_bracket_and_anchor(spark):
    """parsers.py:819-822 — optional [pid] after application; timestamp
    must anchor at line start (reference ^ inside the group)."""
    schema = LogSchema(
        name="t:sys2",
        schema={"timestamp": "string", "host": "string", "application": "string", "message": "string"},
        parser="syslog",
    )
    batch = _classify_one(spark, schema, [
        "Jan 10 19:35:13 vagrant-ubuntu-precise-32 ssh[13941]: login for mike",
        "prefix Jan 10 19:35:13 host app: anchored fail",
    ])
    rows = batch.by_log_type["t:sys2"].collect()
    assert len(rows) == 1
    rec = rows[0]["record"]
    assert rec["application"] == "ssh" and rec["message"] == "login for mike"
    assert batch.invalid.count() == 1


# ---------------------------------------------------------------- trial matching

def test_schema_trial_order_first_match_wins(spark):
    """classifier.py:116-149 — candidate order decides ambiguous records."""
    reg = SchemaRegistry()
    reg.register(LogSchema(name="t:first", schema={"a": "string"}))
    reg.register(LogSchema(name="t:second", schema={"a": "string"}))
    df = spark.createDataFrame([('{"a": "x"}',)], "value string")
    batch = Classifier(reg).classify(df, raw_col="value")
    assert batch.by_log_type["t:first"].count() == 1
    assert batch.by_log_type["t:second"].count() == 0


def test_routing_limits_candidates(spark):
    """classifier.py:82-114 — (service, resource) routing."""
    reg = SchemaRegistry()
    reg.register(LogSchema(name="t:a", schema={"a": "string"}))
    reg.register(LogSchema(name="t:b", schema={"b": "string"}))
    reg.route("kinesis", "stream1", ["t:b"])
    df = spark.createDataFrame([('{"b": "x"}',), ('{"a": "y"}',)], "value string")
    batch = Classifier(reg).classify(df, raw_col="value", service="kinesis", resource="stream1")
    assert "t:a" not in batch.by_log_type
    assert batch.by_log_type["t:b"].count() == 1
    assert batch.invalid.count() == 1


def test_json_path_general_chain(spark):
    """jmespath shapes beyond the shipped fast paths (parsers.py:429-448,
    where the reference accepts any jmespath): dotted array prefix,
    dotted element suffix, and multi-level [*] projections."""
    import json as _json

    schema = LogSchema(
        name="t:jp", schema={"msg": "string"},
        configuration={"json_path": "detail.batches[*].events[*].payload.msg"},
    )
    payload = _json.dumps({"detail": {"batches": [
        {"events": [{"payload": {"msg": _json.dumps({"msg": "a"})}},
                    {"payload": {"msg": _json.dumps({"msg": "b"})}}]},
        {"events": [{"payload": {"msg": _json.dumps({"msg": "c"})}}]},
    ]}})
    batch = _classify_one(spark, schema, [payload])
    got = sorted(r["record"]["msg"] for r in batch.by_log_type["t:jp"].collect())
    assert got == ["a", "b", "c"]


def test_json_path_dotted_tail(spark):
    import json as _json

    schema = LogSchema(
        name="t:jpd", schema={"v": "string"},
        configuration={"json_path": "items[*].inner.rec"},
    )
    payload = _json.dumps({"items": [
        {"inner": {"rec": _json.dumps({"v": "x"})}},
        {"inner": {"rec": _json.dumps({"v": "y"})}},
    ]})
    batch = _classify_one(spark, schema, [payload])
    got = sorted(r["record"]["v"] for r in batch.by_log_type["t:jpd"].collect())
    assert got == ["x", "y"]


@pytest.mark.parametrize("envelope_cfg, env_payload", [
    ({"json_path": "records[*]"}, '{"host": "h1", "records": [{"a": "x"}]}'),
    ({"json_regex_key": "message"}, '{"host": "h1", "message": "ghe: {\\"a\\": \\"x\\"}"}'),
], ids=["json_path", "json_regex_key"])
def test_invalid_only_when_no_candidate_accepts(spark, envelope_cfg, env_payload):
    """classifier.py:202-215 — a payload is quarantined only when no
    candidate schema accepts it, including envelope schemas whose records
    are extracted from the payload (json_path / json_regex_key)."""
    reg = SchemaRegistry()
    reg.register(LogSchema(
        name="t:env", schema={"a": "string"},
        configuration={"envelope_keys": {"host": "string"}, **envelope_cfg},
    ))
    reg.register(LogSchema(name="t:base", schema={"b": "integer"}))
    payloads = [env_payload, '{"b": 5}', '{"c": 1}']
    df = spark.createDataFrame([(p,) for p in payloads], "value string")
    batch = Classifier(reg).classify(df, raw_col="value")
    env_rows = batch.by_log_type["t:env"].collect()
    assert [r["record"]["a"] for r in env_rows] == ["x"]
    assert env_rows[0]["streamalert_envelope_keys"]["host"] == "h1"
    assert batch.by_log_type["t:base"].count() == 1
    assert batch.invalid.count() == 1
    assert [r["raw"] for r in batch.invalid.collect()] == ['{"c": 1}']


def test_csv_escapechar_boundary_split(spark):
    """With a configured escapechar (csv.reader parity): escaped quotes
    don't flip the quote parity, an escaped newline is literal (stays in
    the field's line), and an escaped escapechar before a newline leaves
    the newline as a real record boundary."""
    schema = LogSchema(
        name="t:csvesc", schema={"a": "string", "b": "string"},
        parser="csv",
        configuration={"escapechar": "\\"},
    )
    batch = _classify_one(spark, schema, [
        'r1,"x\\"y"\nr2,plain',     # escaped quote inside a quoted field
        'a\\\nb,1\nc,2',            # escaped newline: one record, then c
        'd\\\\,half\ne,2',          # escaped escape: still two records
    ])
    rows = sorted(r["record"]["a"] for r in batch.by_log_type["t:csvesc"].collect())
    # csv.reader-EXACT values (the escapechar path runs the Arrow-batched
    # csv.reader kernel): the escaped newline collapses to a literal
    # newline and 'd\\\\' collapses to one backslash, exactly as
    # csv.reader emits them
    assert rows == ["a\nb", "c", "d\\", "e", "r1", "r2"]
    assert batch.invalid.count() == 0


def test_csv_escapechar_reader_value_parity(spark):
    """conf/schemas/cloudwatch.json:191 (cloudwatch:rds_aurora — the one
    shipped escapechar schema) + parsers.py:630-645: escapechar schemas
    must match csv.reader VALUE-level, including escaped delimiters in
    unquoted fields, escape collapse inside quoted fields, and
    doubled-quote handling — all cases where univocity diverges."""
    import csv as _csv
    import io as _io

    schema = LogSchema(
        name="t:aurora",
        schema={"timestamp": "string", "serverhost": "string",
                "username": "string", "host": "string",
                "connectionid": "string", "queryid": "string",
                "operation": "string", "database": "string",
                "object": "string", "retcode": "string"},
        parser="csv",
        configuration={"quotechar": "'", "escapechar": "\\"},
    )
    payloads = [
        # MySQL-audit-shaped: escaped quote + escaped backslash in the query
        r"20171104 21:51:12,ip-172-31-27-31,rdsadmin,localhost,4,0,QUERY,"
        r"mysql,'SELECT \'a\\b\' AS x, 1',0",
        # escaped delimiter in an UNQUOTED field (csv.reader: ONE field)
        r"t2,host\,name,u,h,1,2,QUERY,db,'q',0",
        # doubled quote inside a quoted field
        "t3,s,u,h,1,2,QUERY,db,'it''s',0",
    ]
    batch = _classify_one(spark, schema, payloads)
    got = {r["record"]["timestamp"]: [r["record"][c] for c in schema.schema]
           for r in batch.by_log_type["t:aurora"].collect()}
    for p in payloads:
        expect = next(_csv.reader(_io.StringIO(p), quotechar="'", escapechar="\\"))
        assert got[expect[0]] == expect, p
    assert batch.invalid.count() == 0
    # strict count still enforced on the reader path
    bad = _classify_one(spark, schema, ["only,three,fields"])
    assert "t:aurora" not in bad.by_log_type or bad.by_log_type["t:aurora"].count() == 0
    assert bad.invalid.count() == 1
