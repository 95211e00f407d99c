"""Threat-intel IOC detection as a broadcast join.

Reference behavior (streamalert/rules_engine/threat_intel.py): extract
candidate IOC values from each record's normalization map, translate the
normalized key to an IOC type via conf/threat_intel.json's
normalized_ioc_types (threat_intel.py:76-103,293-324), drop values inside
excluded CIDRs (threat_intel.py:272-291,326-337), batch-probe a DynamoDB
table 100 keys at a time (threat_intel.py:45,153-166,168-229), and annotate
matched records with a 'streamalert:ioc' map {ioc_type: [values]}
(threat_intel.py:105-132).

Spark mapping (SURVEY.md §2.3/§2.7), one pass shared by ``hits`` and
``annotate``:

- candidates: one array<struct<ioc_type, value>> column, a concat of one
  array per (ioc_type, normalized type) pair, built once per ThreatIntel;
- explode: one ``inline`` of that column next to the record id;
- join: the CIDR filter, then one equi-join on ioc_value against the IOC
  frame, gated on every call so a swapped ``ioc_df`` takes effect at once;
- aggregate (``annotate`` only): one groupBy(record id) collecting the
  sorted set of (ioc_type, value) pairs, projected into the
  map<ioc_type, array<value>> and left-joined back to the records.

The pipeline calls ``annotate`` only for a log type whose rules read the
map (``RulesEngine.reads``), where the reference probes every record
(rules_engine.py:480-481). Only native rule columns (``expr`` and native
matchers) can read it: Python rule bodies receive the record alone, while
reference bodies read ``record['streamalert:ioc']``.

The 100-key batching disappears — the join IS the batch. CIDR exclusion
is a native range comparison on the IPv4 integer (no UDF).

Scale: ioc tables are usually MBs -> broadcast, but the reference's feed
downloader paginates an UNBOUNDED ThreatStream feed (tens of millions of
IOCs are real), so the hint is size-gated (``gated_broadcast``): under the
budget the join broadcasts; over it the un-hinted equi-join falls to AQE,
which shuffles both sides on ioc_value — the only safe plan for a huge
feed. Candidate explosion is bounded by normalization fan-out; the one
aggregate shuffles only matched records (a tiny fraction), keyed by
record id.
"""

from __future__ import annotations

import ipaddress
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streamalert_spark.ops.hints import gated_broadcast


def ipv4_to_long(col: Column) -> Column:
    """Dotted-quad -> int64, null for non-IPv4 strings. Pure expressions."""
    parts = F.split(col, r"\.")
    is_ip = col.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    as_long = (
        parts.getItem(0).cast("bigint") * F.lit(16777216)
        + parts.getItem(1).cast("bigint") * F.lit(65536)
        + parts.getItem(2).cast("bigint") * F.lit(256)
        + parts.getItem(3).cast("bigint")
    )
    octets_ok = (
        (parts.getItem(0).cast("bigint") <= 255)
        & (parts.getItem(1).cast("bigint") <= 255)
        & (parts.getItem(2).cast("bigint") <= 255)
        & (parts.getItem(3).cast("bigint") <= 255)
    )
    return F.when(is_ip & octets_ok, as_long)


def in_any_cidr(ip_long: Column, cidrs: list[str]) -> Column:
    """Native CIDR containment for a static exclusion list
    (threat_intel.py:287-290, shared/utils.py:32-54)."""
    conds = []
    for cidr in cidrs:
        net = ipaddress.ip_network(cidr)
        lo = int(net.network_address)
        hi = int(net.broadcast_address)
        conds.append(ip_long.between(lo, hi))
    if not conds:
        return F.lit(False)
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


class ThreatIntel:
    def __init__(
        self,
        ioc_df: DataFrame,
        normalized_ioc_types: dict[str, list[str]],
        excluded_cidrs: list[str] | None = None,
    ):
        """ioc_df: columns (ioc_value string, sub_type string).
        normalized_ioc_types: {ioc_type: [normalized type names]} — the
        conf/threat_intel.json mapping."""
        self.ioc_df = ioc_df
        self.normalized_ioc_types = normalized_ioc_types
        self.excluded_cidrs = excluded_cidrs or []

    @cached_property
    def _candidates(self) -> Column:
        """array<struct<ioc_type, value>> of every candidate IOC value in the
        normalization map (threat_intel.py:293-324). It references the map
        by name only, so one build serves every frame."""
        norm = F.col("streamalert_normalization")
        empty = F.array().cast("array<struct<ioc_type:string, value:string>>")
        arrays = [
            F.coalesce(
                F.transform(
                    F.flatten(norm[nt]["values"]),
                    lambda v: F.struct(F.lit(ioc_type).alias("ioc_type"), v.alias("value")),
                ),
                empty,
            )
            for ioc_type, norm_types in self.normalized_ioc_types.items()
            for nt in norm_types
        ]
        if not arrays:
            raise ValueError("no normalized_ioc_types configured")
        return F.concat(*arrays)

    def _joined(self, df: DataFrame, id_col: str) -> DataFrame:
        """(__record_id, ioc_type, value, sub_type): one explode, the CIDR
        filter, one join against the IOC frame."""
        cands = df.select(F.col(id_col).alias("__record_id"), F.inline(self._candidates))
        if self.excluded_cidrs:
            ip_long = ipv4_to_long(F.col("value"))
            cands = cands.filter(ip_long.isNull() | ~in_any_cidr(ip_long, self.excluded_cidrs))
        return cands.join(
            gated_broadcast(self.ioc_df), F.col("value") == F.col("ioc_value"), "inner")

    def hits(self, df: DataFrame, id_col: str = "streamalert_record_id") -> DataFrame:
        """Distinct (streamalert_record_id, ioc_type, value, sub_type) hit
        rows — the join replacing the reference's DynamoDB batch probe."""
        return self._joined(df, id_col).select(
            F.col("__record_id").alias("streamalert_record_id"),
            "ioc_type",
            "value",
            "sub_type",
        ).distinct()

    def annotate(self, df: DataFrame, id_col: str = "streamalert_record_id") -> DataFrame:
        """Attach 'streamalert_ioc', map<ioc_type, array<value>>, to matched
        records (threat_intel.py:105-132); the left join leaves a null map on
        the rest. Keys and each key's values come out sorted, so the map is
        deterministic."""
        pairs = F.col("__pairs")
        types = F.array_distinct(pairs["ioc_type"])
        m = (
            self._joined(df, id_col).groupBy("__record_id")
            .agg(F.array_sort(F.collect_set(F.struct("ioc_type", "value"))).alias("__pairs"))
            .select("__record_id", F.map_from_arrays(types, F.transform(
                types, lambda t: F.filter(pairs, lambda p: p["ioc_type"] == t)["value"],
            )).alias("streamalert_ioc"))
        )
        return df.join(m, df[id_col] == m["__record_id"], "left").drop("__record_id")
