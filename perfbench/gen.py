"""Seeded input generators. The same seed gives the same inputs; the engine
only ever sees the generated files and frames.

- ``EventGen``: JSON-lines events for the Kinesis route
  ``prefix_cluster1_streamalert`` built from the templates in
  ``templates/`` (copied from the golden events and the example conf
  shapes). Each event carries a creation stamp in a string field its schema
  already declares, and the expected alerts follow from each template's
  ``trigger_rules``.
- ``alert_backlog``: alert rows in the rules stage's output shape, with
  Zipf-skewed merge keys and slack / pagerduty-v2 outputs.
- ``store_hour``: typed cloudtrail and flow-log rows for one ``dt`` hour.
- ``corpus``: ``documents`` rows with a controlled share of exact and near
  duplicates.
"""

from __future__ import annotations

import copy
import json
import os
import random
from collections import Counter
from datetime import datetime, timedelta, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROUTE = ("kinesis", "prefix_cluster1_streamalert")
STAMP_PREFIX = "pb"

# the string field (declared by the log's schema) that carries the stamp
_STAMP_FIELD = {
    "cloudwatch:events": "id",
    "cloudwatch:flow_logs": "account",
    "osquery:differential": "hostIdentifier",
    "ghe:general": "repo_id",        # inside the syslog message's JSON body
}


def load_templates() -> list[dict]:
    with open(os.path.join(HERE, "templates", "kinesis_cluster1.json")) as fh:
        return json.load(fh)


def stamp_value(seq: int) -> str:
    return f"{STAMP_PREFIX}{seq:09d}"


def stamped(template: dict, stamp: str) -> dict:
    """Template data with ``stamp`` written into its log's stamp field."""
    data = copy.deepcopy(template["data"])
    field_name = _STAMP_FIELD[template["log"]]
    if template["log"] == "ghe:general":
        msg = data["message"]
        cut = msg.index("{")
        body = json.loads(msg[cut:])
        body[field_name] = stamp
        data["message"] = msg[:cut] + json.dumps(body, separators=(",", ":"))
    else:
        data[field_name] = stamp
    return data


def stamp_of(log_type: str, record: dict) -> str | None:
    """The stamp carried by an alert's record (the classified record)."""
    value = record.get(_STAMP_FIELD[log_type])
    return value if isinstance(value, str) and value.startswith(STAMP_PREFIX) else None


class EventGen:
    """Seeded event stream: ``fire_share`` of events come from a template
    that triggers rules, the rest from templates that trigger none."""

    def __init__(self, seed: int, fire_share: float = 0.03):
        self.rng = random.Random(seed)
        self.templates = load_templates()
        self.firing = [t for t in self.templates if t["trigger_rules"]]
        self.quiet = [t for t in self.templates if not t["trigger_rules"]]
        self.fire_share = fire_share
        self.seq = 0

    def next_events(self, n: int) -> tuple[list[str], Counter]:
        """n JSON lines and the expected alert multiset {(stamp, rule): k}.
        Exactly round(n * fire_share) of them, at seeded positions, come
        from firing templates, so the alert count barely varies by seed."""
        lines, expected = [], Counter()
        fire_at = set(self.rng.sample(range(n), round(n * self.fire_share)))
        for i in range(n):
            pool = self.firing if i in fire_at else self.quiet
            tpl = pool[self.rng.randrange(len(pool))]
            stamp = stamp_value(self.seq)
            self.seq += 1
            lines.append(json.dumps(stamped(tpl, stamp), separators=(",", ":")))
            for rule in tpl["trigger_rules"]:
                expected[(stamp, rule)] += 1
        return lines, expected

    def every_template(self) -> tuple[list[str], Counter]:
        """One stamped event per template — the warm-up batch, which also
        proves each template triggers exactly its declared rules."""
        lines, expected = [], Counter()
        for tpl in self.templates:
            stamp = stamp_value(self.seq)
            self.seq += 1
            lines.append(json.dumps(stamped(tpl, stamp), separators=(",", ":")))
            for rule in tpl["trigger_rules"]:
                expected[(stamp, rule)] += 1
        return lines, expected


def ioc_values(seed: int, n: int) -> list[str]:
    """n distinct 12-digit account IOCs plus the accounts the templates use,
    so annotation finds real hits."""
    rng = random.Random(seed * 7919 + 1)
    out = {"123456789012", "111111111111"}
    while len(out) < n:
        out.add(f"{rng.randrange(10**11, 10**12)}")
    return sorted(out)


# --------------------------------------------------------------- alert storm

STORM_RULES = [
    ("storm_root_login", ["slack:security", "pagerduty-v2:oncall"]),
    ("storm_public_bucket", ["slack:security"]),
    ("storm_flow_ssh", ["slack:network", "pagerduty-v2:network"]),
    ("storm_ghe_admin", ["slack:github"]),
]
STORM_BASE = datetime(2024, 3, 1, tzinfo=timezone.utc)


def _zipf_index(rng: random.Random, cum: list[float]) -> int:
    import bisect

    return bisect.bisect_left(cum, rng.random() * cum[-1])


def alert_backlog(seed: int, n: int, start_seq: int = 0, n_keys: int = 2000,
                  s: float = 1.1) -> list[dict]:
    """n alert rows in the rules stage's output shape (ALERT_SCHEMA).
    Merge keys follow a Zipf(s) law over ``n_keys`` accounts; ``created``
    advances ~1 s per alert so windows of 10 minutes hold many alerts."""
    rng = random.Random(seed * 104729 + start_seq)
    cum, acc = [], 0.0
    for k in range(1, n_keys + 1):
        acc += 1.0 / (k ** s)
        cum.append(acc)
    rows = []
    for i in range(n):
        seq = start_seq + i
        rule, outputs = STORM_RULES[rng.randrange(len(STORM_RULES))]
        account = f"{100000000000 + _zipf_index(rng, cum):012d}"
        created = STORM_BASE + timedelta(seconds=seq + rng.random() * 0.5)
        record = {"account": account, "region": rng.choice(["us-east-1", "us-west-2", "eu-west-1"]),
                  "detail": {"eventName": rng.choice(["ConsoleLogin", "PutBucketAcl", "CreateUser"]),
                             "sourceIPAddress": f"198.51.{rng.randrange(256)}.{rng.randrange(256)}"},
                  "seq": seq}
        rows.append({
            "id": f"alert-{seq:010d}",
            "rule_name": rule,
            "rule_description": f"{rule} (generated backlog)",
            "record": json.dumps(record, sort_keys=True),
            "outputs": list(outputs),
            "created": created.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
            "cluster": "prod",
            "context": None,
            "log_source": "prefix_cluster1_streamalert",
            "log_type": "cloudwatch:events",
            "publishers": None,
            "source_entity": "prefix_cluster1_streamalert",
            "source_service": "kinesis",
            "staged": False,
            "merge_by_keys": ["account"],
            "merge_window_mins": 10,
            "dt": created.strftime("%Y-%m-%d-%H"),
        })
    return rows


# ------------------------------------------------------------ scheduled hunt

HUNT_NOW = datetime(2024, 3, 2, 0, 30, tzinfo=timezone.utc)
EVENT_NAMES = ["ConsoleLogin", "AssumeRole", "PutBucketAcl", "CreateUser",
               "GetObject", "DescribeInstances", "RunInstances", "DeleteTrail"]


def store_hour(seed: int, hour: int, rows_per_hour: int) -> tuple[list[dict], list[dict]]:
    """(cloudtrail rows, flow-log rows) for hour index ``hour`` before
    HUNT_NOW (hour 0 is the current hour)."""
    rng = random.Random(seed * 1_000_003 + hour)
    ts0 = HUNT_NOW.replace(minute=0) - timedelta(hours=hour)
    dt = ts0.strftime("%Y-%m-%d-%H")
    trail, flows = [], []
    for i in range(rows_per_hour):
        t = ts0 + timedelta(seconds=rng.randrange(3600))
        trail.append({
            "record_id": f"ct-{hour:03d}-{i:07d}",
            "event_time": t.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "event_name": EVENT_NAMES[min(int(rng.expovariate(0.6)), len(EVENT_NAMES) - 1)],
            "principal": f"arn:aws:iam::123456789012:user/u{int(rng.paretovariate(1.2)) % 5000}",
            "source_ip": f"10.{rng.randrange(4)}.{rng.randrange(256)}.{rng.randrange(256)}",
            "region": rng.choice(["us-east-1", "us-west-2", "eu-west-1"]),
            "dt": dt,
        })
        flows.append({
            "record_id": f"fl-{hour:03d}-{i:07d}",
            "srcaddr": f"10.{rng.randrange(4)}.{rng.randrange(64)}.{int(rng.paretovariate(1.1)) % 256}",
            "dstaddr": f"203.0.113.{rng.randrange(256)}",
            "dstport": rng.choice([22, 443, 80, 3389, 8080]),
            "bytes": rng.randrange(40, 150000),
            "action": "REJECT" if rng.random() < 0.1 else "ACCEPT",
            "dt": dt,
        })
    return trail, flows


def hunt_alerts(seed: int, trail_ids: list[str], n: int) -> list[dict]:
    """Alert rows that point at store records by ``record_id`` (the join key
    of the alerts-by-records pack); a tenth point at no record."""
    rng = random.Random(seed * 31 + 5)
    out = []
    for i in range(n):
        rid = trail_ids[rng.randrange(len(trail_ids))] if rng.random() < 0.9 else f"ct-missing-{i}"
        out.append({"alert_id": f"ha-{i:07d}", "rule_name": STORM_RULES[i % len(STORM_RULES)][0],
                    "record_id": rid})
    return out


# ------------------------------------------------------------ corpus curation

_WORDS = ("a the and of to in is it data stream spark alert rule log event "
          "batch query window merge sort hash key value filter group agg "
          "scan column table part line row fast slow big small vector "
          "source sink state schema record field index shard cache").split()


def corpus(seed: int, n_docs: int, exact_share: float = 0.1,
           near_share: float = 0.1) -> list[dict]:
    """``documents`` rows (doc_id, text, lang, source, n_chars). About
    ``exact_share`` are exact copies of an earlier document and
    ``near_share`` are copies with a few words changed."""
    rng = random.Random(seed * 9973 + 17)
    docs: list[dict] = []
    for doc_id in range(n_docs):
        r = rng.random()
        if docs and r < exact_share:
            text = docs[rng.randrange(len(docs))]["text"]
        elif docs and r < exact_share + near_share:
            words = docs[rng.randrange(len(docs))]["text"].split(" ")
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words)
        else:
            n = rng.randrange(20, 120)
            words = [rng.choice(_WORDS) for _ in range(n)]
            if rng.random() < 0.2:
                words.insert(rng.randrange(n), f"user{rng.randrange(999)}@example.com")
            text = " ".join(words)
        docs.append({"doc_id": doc_id, "text": text,
                     "lang": rng.choice(["en", "de", "fr", "zh"]),
                     "source": f"src{rng.randrange(4)}", "n_chars": len(text)})
    return docs
