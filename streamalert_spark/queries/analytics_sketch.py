"""Sketch / exact-statistics analytics over the events and documents
tables: KMV cardinality (the oracle-checkable distinct sketch), exact
percentiles, integer-exact rate-spike detection, and boilerplate n-gram
span discovery.

These complete the security-analytics floor implied by the reference's
rate/threshold rule patterns (rules fire on aggregates the scheduled
queries produce — SURVEY §2.6) and the standard corpus-boilerplate sweep
of a training-data pipeline.

Scale notes: every query is one or two partial-aggregated shuffles over
the scan; the KMV window operates on O(k) rows per group; no driver
collects; no UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamalert_spark.ops.sketch import (
    CMS_D,
    CMS_W,
    KMV_K,
    cms_point_estimates,
    hex_fraction,
    hex_fraction_sql,
    hex_prefix_int_sql,
    kmv_distinct,
    kmv_overlap,
    rate_spikes,
)
from streamalert_spark.queries import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.session import read_table

    return read_table(spark, sf_dir, "events")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.session import read_table

    return read_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# KMV distinct sketch — the cross-engine-exact alternative to HLL.
# ---------------------------------------------------------------------------

_KMV_ORACLE = f"""
WITH hashed AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
  FROM (SELECT DISTINCT event_type, user_id FROM events
        WHERE user_id IS NOT NULL)
),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_exact
  FROM hashed
)
SELECT event_type, h AS kth_min_hash,
       CASE WHEN n_exact < {KMV_K} THEN CAST(n_exact AS DOUBLE)
            ELSE ROUND({float(KMV_K - 1)!r} / ({hex_fraction_sql('h')}), 4)
       END AS kmv_estimate,
       CAST(n_exact AS BIGINT) AS exact_distinct
FROM ranked
WHERE rn = LEAST({KMV_K}, n_exact)
ORDER BY event_type
"""


@query("kmv_distinct_users", oracle=_KMV_ORACLE,
       doc="KMV (k-minimum-values) distinct-user sketch per event type, "
           "next to the exact count: md5 order is engine-portable and the "
           "hex->fraction conversion is a fixed-order 52-bit digit sum, so "
           "the ESTIMATE itself is bit-identical across engines — the "
           "oracle-checkable alternative to HLL. O(k) memory per group at "
           "any cardinality.")
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        kmv_distinct(_events(spark, sf_dir), "event_type", "user_id")
        .repartition(1).sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# Exact percentiles (sort-based, linear interpolation on both engines).
# ---------------------------------------------------------------------------

_PCT_ORACLE = """
SELECT event_type,
       CAST(ROUND(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
       CAST(ROUND(quantile_cont(value, 0.9), 6) AS DOUBLE) AS p90,
       CAST(ROUND(quantile_cont(value, 0.99), 6) AS DOUBLE) AS p99,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("event_value_percentiles", oracle=_PCT_ORACLE,
       doc="Exact per-type value percentiles (p50/p90/p99): Spark's "
           "sort-based percentile and DuckDB's quantile_cont share the "
           "rank = p*(n-1) linear-interpolation definition; round(6) "
           "absorbs any final-operation ulp. The per-group sort is the "
           "exact-percentile cost — percentile_approx's KLL sketch is the "
           "scale fallback but is not engine-portable.")
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5D)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9D)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99D)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .repartition(1).sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# Rate-spike detection — integer-derived 3-sigma thresholds.
# ---------------------------------------------------------------------------

_SPIKES_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, hour, cnt,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(cnt) OVER (PARTITION BY event_type) AS s,
         SUM(cnt * cnt) OVER (PARTITION BY event_type) AS ss
  FROM h
)
SELECT event_type, hour, CAST(cnt AS BIGINT) AS cnt,
       ROUND(CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s AS DOUBLE), 6) AS dev,
       ROUND(3.0 * sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS threshold
FROM st
WHERE CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s AS DOUBLE)
      > 3.0 * sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
ORDER BY event_type, hour
"""


@query("event_rate_spikes", oracle=_SPIKES_ORACLE,
       doc="Hourly rate-spike detection per event type (count > mean + "
           "3*stddev_pop): thresholds derive ONLY from integer sums via "
           "(c*n - s) > 3*sqrt(n*ss - s*s) computed in DOUBLE from exact "
           "integer sums (no bigint product overflow) — bit-identical "
           "across engines. The "
           "rate-based anomaly primitive under threshold alert rules.")
def event_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        rate_spikes(_events(spark, sf_dir), "event_type", "ts", sigma=3.0)
        .repartition(1).sortWithinPartitions("event_type", "hour")
    )


# ---------------------------------------------------------------------------
# KMV join-overlap sketch — set-operation estimates for join planning.
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = f"""
WITH ha AS (
  SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h FROM events
  WHERE user_id IS NOT NULL ORDER BY h LIMIT {KMV_K}
),
hb AS (
  SELECT DISTINCT md5(CAST(c_custkey AS VARCHAR)) AS h FROM customer
  WHERE c_custkey IS NOT NULL ORDER BY h LIMIT {KMV_K}
),
u AS (
  SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
    SELECT h, 1 AS in_a, 0 AS in_b FROM ha
    UNION ALL SELECT h, 0, 1 FROM hb
  ) GROUP BY h
),
r AS (
  SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS rn,
         COUNT(*) OVER () AS n
  FROM u
),
agg AS (
  SELECT MAX(CASE WHEN rn = LEAST({KMV_K}, n) THEN h END) AS theta_h,
         MAX(n) AS n,
         SUM(CASE WHEN rn <= {KMV_K} AND in_a = 1 AND in_b = 1
                  THEN 1 ELSE 0 END) AS c
  FROM r
)
SELECT CAST(c AS BIGINT) AS sketch_matches,
       ROUND(c / CAST(LEAST({KMV_K}, n) AS DOUBLE), 4) AS jaccard_est,
       CASE WHEN n < {KMV_K} THEN CAST(c AS DOUBLE)
            ELSE ROUND((c / {float(KMV_K)!r})
                       * ({float(KMV_K - 1)!r} / ({hex_fraction_sql('theta_h')})), 4)
       END AS intersection_est,
       CASE WHEN n < {KMV_K} THEN CAST(n AS DOUBLE)
            ELSE ROUND({float(KMV_K - 1)!r} / ({hex_fraction_sql('theta_h')}), 4)
       END AS union_est
FROM agg
"""


@query("kmv_join_overlap", oracle=_OVERLAP_ORACLE,
       doc="KMV set-operation sketch between events.user_id and "
           "customer.c_custkey: Jaccard / intersection / union distinct "
           "estimates from each side's k minimum md5 hashes — the "
           "join-planning diagnostic ('how much do these tables' keys "
           "overlap?') that never shuffles either full key set. Each "
           "side reduces via orderBy+limit (TakeOrderedAndProject, no "
           "global sort); downstream math touches <= 2k rows. Estimates "
           "are bit-identical across engines (portable hash order + "
           "52-bit hex fraction), so even the SKETCH values hash-match.")
def kmv_join_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.session import read_table

    ev = _events(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer")
    return kmv_overlap(ev, "user_id", cust, "c_custkey")


# ---------------------------------------------------------------------------
# One-pass table profile — per-column data-quality stats.
# ---------------------------------------------------------------------------

_LINEITEM_SPEC = {
    "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
    "l_linenumber": "int", "l_quantity": "double",
    "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
    "l_returnflag": "string", "l_linestatus": "string",
    "l_shipdate": "timestamp",
}


def _profile_oracle() -> str:
    from streamalert_spark.ops.profile import profile_oracle_sql

    return (profile_oracle_sql("lineitem", _LINEITEM_SPEC)
            + " ORDER BY column_name")


@query("table_profile_lineitem", oracle=_profile_oracle(),
       doc="One-pass data-quality profile of every lineitem column: null "
           "count, EXACT distinct count, portable min/max (doubles "
           "rendered through DECIMAL(30,4), timestamps via explicit "
           "format — raw double/timestamp formatting is not "
           "engine-portable). All columns aggregate in a single scan "
           "(Spark's multi-distinct Expand; partials collapse before the "
           "shuffle) — the new-data health gate of an ingest pipeline, "
           "never N scans for N columns.")
def table_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.profile import profile
    from streamalert_spark.session import read_table

    li = read_table(spark, sf_dir, "lineitem")
    return (profile(li, _LINEITEM_SPEC)
            .repartition(1).sortWithinPartitions("column_name"))


def _profile_sketched_oracle() -> str:
    from streamalert_spark.ops.profile import profile_sketched_oracle_sql

    return ("SELECT * FROM (" + profile_sketched_oracle_sql(
        "lineitem", _LINEITEM_SPEC) + ") ORDER BY column_name")


@query("table_profile_sketched", oracle=_profile_sketched_oracle(),
       doc="The 100-TB profile variant: per-column distinct counts via "
           "the KMV sketch instead of table_profile_lineitem's exact "
           "multi-distinct Expand (which multiplies the map stage by the "
           "column count). Columns stack into (column, rendered value) "
           "pairs in one scan; the distinct shuffle is partial-agg "
           "deduped so it carries O(Σ per-column distincts) md5 rows. "
           "The k-th min hash comes from the two-phase distributed k-min "
           "(rank within (column, input-partition), keep k, re-rank the "
           "tiny survivor set) — parallelism scales with columns × "
           "partitions, not the column count; the single-window original "
           "measured 14.2× on the sf10→sf100 decade because the widest "
           "column sorted in ONE task. Output pairs the estimate with "
           "the exact count so the sketch's error is visible and "
           "hash-pinned.")
def table_profile_sketched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.profile import profile_sketched_scalable
    from streamalert_spark.session import read_table

    li = read_table(spark, sf_dir, "lineitem")
    return (profile_sketched_scalable(li, _LINEITEM_SPEC)
            .repartition(1).sortWithinPartitions("column_name"))


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters — fixed-memory frequency estimation.
# ---------------------------------------------------------------------------

_CMS_HH_FLOOR = 75  # exact-count floor defining "heavy" at the demo scale

_CMS_ORACLE = f"""
WITH ev AS (
  SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE user_id IS NOT NULL
),
cells AS (
  SELECT k, i AS depth, md5(CAST(i AS VARCHAR) || ':' || k) AS h
  FROM ev, UNNEST(range(0, {CMS_D})) AS t(i)
),
placed AS (
  SELECT k, depth, ({hex_prefix_int_sql('h')}) % {CMS_W} AS col FROM cells
),
sketch AS (SELECT depth, col, COUNT(*) AS cnt FROM placed GROUP BY 1, 2),
exact AS (
  SELECT k, COUNT(*) AS exact_cnt FROM ev
  GROUP BY k HAVING COUNT(*) >= {_CMS_HH_FLOOR}
),
pcells AS (
  SELECT e.k, i AS depth, md5(CAST(i AS VARCHAR) || ':' || e.k) AS h
  FROM exact e, UNNEST(range(0, {CMS_D})) AS t(i)
),
probes AS (
  SELECT k, depth, ({hex_prefix_int_sql('h')}) % {CMS_W} AS col FROM pcells
),
est AS (
  SELECT p.k, MIN(s.cnt) AS cms_estimate
  FROM probes p JOIN sketch s USING (depth, col) GROUP BY p.k
)
SELECT CAST(e.k AS BIGINT) AS user_id,
       CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(est.cms_estimate AS BIGINT) AS cms_estimate
FROM exact e JOIN est ON est.k = e.k
ORDER BY user_id
"""


@query("cms_heavy_hitters", oracle=_CMS_ORACLE,
       doc="Count-min sketch frequency estimates for heavy-hitter users, "
           "next to the exact counts: d*w counters total (fixed memory at "
           "ANY cardinality, mergeable by addition across partitions / "
           "micro-batches / days), estimate = min over d portable md5-mod "
           "hash rows, one-sided error (estimate >= exact always). The "
           "sketch shuffle carries <= d*w rows after map-side combine — "
           "the 100 TB frequency path where exact per-key counting would "
           "shuffle the corpus. The placement hash (hex12(md5) % w) is "
           "engine-identical, so the ESTIMATES hash-match the oracle.")
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .filter(F.col("exact_cnt") >= _CMS_HH_FLOOR)
    )
    est = cms_point_estimates(ev, exact, "user_id")
    return (
        exact.join(est, exact.user_id.cast("string") == est.k)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            "cms_estimate",
        )
        .repartition(1).sortWithinPartitions("user_id")
    )


# ---------------------------------------------------------------------------
# Space-saving heavy hitters — bounds audit with a deterministic verdict.
# ---------------------------------------------------------------------------

_SPACE_SAVING_ORACLE = """
WITH exact AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(true_cnt) AS BIGINT) AS n_events,
       CAST(0 AS BIGINT) AS bound_violations,
       CAST(0 AS BIGINT) AS missed_guaranteed
FROM exact
"""


@query("space_saving_bounds_verdict", oracle=_SPACE_SAVING_ORACLE,
       doc="Space-saving heavy-hitter summary (Metwally et al.; mergeable "
           "trimmed-counts form from Agarwal et al.) audited against the "
           "exact counts. The per-key ESTIMATES move with the physical "
           "partitioning, so the hash-checked output is the summary's "
           "partitioning-INDEPENDENT verdict: est <= true <= est_hi must "
           "hold for every surfaced key (bound_violations = 0) and every "
           "key whose true frequency exceeds the global trim budget "
           "Σ e_p must surface (missed_guaranteed = 0) — plus n_keys / "
           "n_events from the exact side so the hash covers real data, "
           "not just invariant zeros. Scale: the summary shuffles "
           "O(partitions × k) rows at any cardinality; the audit join "
           "is exact-count-sized and exists only to verify the sketch.")
def space_saving_bounds_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.sketch import space_saving_summary

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    exact = (ev.groupBy(F.col("user_id").cast("string").alias("key"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt")))
    summary = space_saving_summary(ev, "user_id", k=64)
    audit = exact.join(summary, "key", "left")
    budget = summary.agg(F.max("total_e").alias("trim_budget"))
    return (
        audit.crossJoin(F.broadcast(budget))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("true_cnt").cast("bigint").alias("n_events"),
            F.sum(F.when(
                F.col("est").isNotNull()
                & ~((F.col("est") <= F.col("true_cnt"))
                    & (F.col("true_cnt") <= F.col("est_hi"))), 1)
                .otherwise(0)).cast("bigint").alias("bound_violations"),
            F.sum(F.when(
                F.col("est").isNull()
                & (F.col("true_cnt") > F.col("trim_budget")), 1)
                .otherwise(0)).cast("bigint").alias("missed_guaranteed"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate span discovery — high-document-frequency n-grams.
# ---------------------------------------------------------------------------

_BOILERPLATE_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
)
SELECT shingle, COUNT(*) AS df, MIN(doc_id) AS first_doc
FROM sh
GROUP BY shingle
HAVING COUNT(*) >= 5
ORDER BY df DESC, shingle
"""


@query("boilerplate_ngram_spans", oracle=_BOILERPLATE_ORACLE,
       doc="Boilerplate discovery: n-gram spans shared by >= 5 distinct "
           "docs (the repeated-span sweep that precedes span-level dedup "
           "in a training-data pipeline; production corpora use longer "
           "n and higher floors — the plan shape is identical). One "
           "explode + two partial-aggregated shuffles; the HAVING floor "
           "keeps the output at boilerplate scale.")
def boilerplate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.dedup import shingles

    sh = shingles(_docs(spark, sf_dir), n=3)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"),
             F.min("doc_id").alias("first_doc"))
        .filter(F.col("df") >= 5)
        .repartition(1).sortWithinPartitions(F.col("df").desc(), "shingle")
    )


# ---------------------------------------------------------------------------
# Triangle enumeration — the ordered-wedge join (each triangle found
# exactly once via a < b < c orientation).
# ---------------------------------------------------------------------------

_TRIANGLES_ORACLE = """
WITH n AS (SELECT COUNT(*) AS cnt FROM documents),
raw AS (
  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT cnt FROM n) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % (SELECT cnt FROM n) FROM documents
),
edges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
)
SELECT e1.a AS a, e1.b AS b, e2.b AS c
FROM edges e1
JOIN edges e2 ON e2.a = e1.b
JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
ORDER BY a, b, c
"""


@query("graph_triangles", oracle=_TRIANGLES_ORACLE,
       doc="Triangle enumeration over the deterministic doc graph via the "
           "ordered-wedge join (a<b<c orientation finds each triangle "
           "once): two hash joins on edge endpoints — the standard "
           "distributed triangle algorithm; wedge fan-out is bounded by "
           "orienting edges low->high so hubs don't explode.")
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n = docs.count()  # driver scalar: node-space size for the modulus
    raw = docs.select(F.col("doc_id").alias("src"),
                      ((F.col("doc_id") * 2 + 1) % n).alias("dst")) \
        .unionByName(docs.select(F.col("doc_id").alias("src"),
                                 ((F.col("doc_id") * 3 + 7) % n).alias("dst")))
    edges = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    e1 = edges.select(F.col("a").alias("a"), F.col("b").alias("w"))
    e2 = edges.select(F.col("a").alias("w"), F.col("b").alias("c"))
    wedges = e1.join(e2, "w").select("a", F.col("w").alias("b"), "c")
    closing = edges.select(F.col("a").alias("a"), F.col("b").alias("c"))
    return (
        wedges.join(closing, ["a", "c"], "left_semi")
        .select("a", "b", "c")
        .repartition(1).sortWithinPartitions("a", "b", "c")
    )


# ---------------------------------------------------------------------------
# Inverted index over n-gram terms — posting lists as sorted arrays.
# ---------------------------------------------------------------------------

_INVINDEX_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS term
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
)
SELECT term, COUNT(*) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM sh
GROUP BY term
HAVING COUNT(*) >= 5 AND COUNT(*) <= 8
ORDER BY term
"""


@query("inverted_index_terms", oracle=_INVINDEX_ORACLE,
       doc="Inverted-index build over n-gram terms: sorted posting lists "
           "per term with a df band keeping output bounded. TWO-PASS "
           "plan: a partial-aggregated df count first (scalar shuffle), "
           "then posting lists collected ONLY for terms surviving the "
           "band — the (term, doc_id) pair shuffle carries the banded "
           "subset, not the corpus, which is what survives 100 TB where "
           "high-df terms dominate the pair volume. The list is emitted "
           "as a comma-joined scalar (the driver harness cannot "
           "canonicalize array columns).")
def inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.dedup import shingles

    sh = shingles(_docs(spark, sf_dir), n=3).withColumnRenamed("shingle", "term")
    banded = (
        sh.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 5) & (F.col("df") <= 8))
    )
    # no broadcast HINT: the banded term set is data-dependent (could be
    # large on a 100 TB corpus) — AQE picks broadcast at runtime when it
    # is actually small, shuffle join otherwise
    return (
        sh.join(banded, "term")
        .groupBy("term")
        .agg(F.first("df").alias("df"),
             F.array_join(
                 F.transform(F.array_sort(F.collect_list("doc_id")),
                             lambda x: x.cast("string")),
                 ",").alias("postings"))
        .repartition(1).sortWithinPartitions("term")
    )


# ---------------------------------------------------------------------------
# Fuzzy matching — q-gram-blocked edit-distance pairs.
# ---------------------------------------------------------------------------

# the oracle is the brute-force DEFINITION (all distinct pairs within
# distance 2) — deliberately not mirroring the q-gram plan, so the check
# also verifies the blocking's completeness (long pairs via grams, short
# pairs via the exhaustive branch)
_FUZZY_ORACLE = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS n1, b.name AS n2,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2
ORDER BY dist, n1, n2
"""


@query("fuzzy_name_pairs", oracle=_FUZZY_ORACLE,
       doc="Typo-level fuzzy matching: distinct part names within edit "
           "distance 2 — long names blocked by shared character 3-grams "
           "(shuffle O(strings x grams), never O(n^2)), names under the "
           "q-gram guarantee length paired exhaustively via a broadcast "
           "of the short set; threshold-bounded Levenshtein verifies. "
           "The oracle is the brute-force definition, so it also checks "
           "the blocking's completeness.")
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.fuzzy import edit_distance_pairs
    from streamalert_spark.session import read_table

    part = read_table(spark, sf_dir, "part")
    return (
        edit_distance_pairs(part, "p_name", max_distance=2)
        .repartition(1).sortWithinPartitions("dist", "n1", "n2")
    )


# ---------------------------------------------------------------------------
# Skew-safe exact distinct — the salted two-stage shape, driver-checked.
# ---------------------------------------------------------------------------

_SALTED_DISTINCT_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("salted_exact_distinct_users", oracle=_SALTED_DISTINCT_ORACLE,
       doc="Skew-safe EXACT distinct users per event type: value-derived "
           "salt (md5 mod 16) spreads each hot key's distinct state over "
           "16 reducers; per-bucket distincts are disjoint by "
           "construction so the stage-2 sum is exact. The salted plan is "
           "result-identical to plain COUNT(DISTINCT) — that IS the "
           "check. At 100 TB this is the shape for hot-key distincts "
           "that would otherwise pin one reducer.")
def salted_exact_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.skew import salted_exact_distinct

    ev = _events(spark, sf_dir)
    return (
        salted_exact_distinct(ev, ["event_type"], "user_id")
        .repartition(1).sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch — the one-pass mergeable scale path.
# ---------------------------------------------------------------------------

_HIST_QUANTILE_ORACLE = """
WITH hist AS (
  SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
  FROM hist
),
j AS (
  SELECT c.*, cum - cnt AS cum_before,
         MAX(cum) OVER (PARTITION BY event_type) AS n
  FROM c
)
SELECT event_type,
       MAX(CASE WHEN cum_before < 0.5 * n AND cum >= 0.5 * n
                THEN ROUND(bucket * 10.0 + 10.0 * (0.5 * n - cum_before) / cnt, 6)
           END) AS p50_est,
       MAX(CASE WHEN cum_before < 0.9 * n AND cum >= 0.9 * n
                THEN ROUND(bucket * 10.0 + 10.0 * (0.9 * n - cum_before) / cnt, 6)
           END) AS p90_est,
       MAX(CASE WHEN cum_before < 0.99 * n AND cum >= 0.99 * n
                THEN ROUND(bucket * 10.0 + 10.0 * (0.99 * n - cum_before) / cnt, 6)
           END) AS p99_est,
       CAST(MAX(n) AS BIGINT) AS n_events
FROM j GROUP BY event_type ORDER BY event_type
"""


@query("histogram_quantile_sketch", oracle=_HIST_QUANTILE_ORACLE,
       doc="Histogram quantile SKETCH per event type: one pass, state = "
           "one count per occupied bucket, mergeable by addition across "
           "partitions/micro-batches — the 100 TB path beside the exact "
           "sort-based percentile (event_value_percentiles). Bucketing "
           "and interpolation use only IEEE-exact arithmetic on integer "
           "counts, so the ESTIMATE is bit-identical across engines.")
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.sketch import histogram_quantiles

    return (
        histogram_quantiles(_events(spark, sf_dir), "event_type", "value")
        .repartition(1).sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# Entity resolution: fuzzy pair graph -> connected components -> canonical
# labels (the record-linkage capstone composing the two verified pieces).
# ---------------------------------------------------------------------------

_ENTITY_RES_ORACLE = """
WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
p AS (
  SELECT a.name AS n1, b.name AS n2
  FROM names a JOIN names b ON a.name < b.name
  WHERE levenshtein(a.name, b.name) <= 2
),
edges AS (SELECT n1 AS src, n2 AS dst FROM p UNION SELECT n2, n1 FROM p),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
labels AS (SELECT id AS name, MIN(r) AS canonical FROM reach GROUP BY id)
SELECT n.name, COALESCE(l.canonical, n.name) AS canonical
FROM names n LEFT JOIN labels l ON l.name = n.name
ORDER BY n.name
"""


@query("entity_resolution_groups", oracle=_ENTITY_RES_ORACLE,
       doc="Entity resolution capstone: prefix-filtered fuzzy matching "
           "builds the typo-pair graph, large-star/small-star connected "
           "components elect each cluster's canonical (min) name, "
           "singletons stay their own canonical. The oracle recomputes "
           "it from the brute-force pair DEFINITION + a recursive-CTE "
           "closure, so the check proves blocking completeness AND "
           "label correctness together.")
def entity_resolution_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.dedup import connected_components
    from streamalert_spark.ops.fuzzy import edit_distance_pairs
    from streamalert_spark.session import read_table

    part = read_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    # pass `part` (not `names`): the pair plan is the same as
    # fuzzy_name_pairs', but op-scoped caches are released at every query's
    # entry, so each query computes its own pairs
    pairs = edit_distance_pairs(part, "p_name", max_distance=2)
    comp = connected_components(pairs, a_col="n1", b_col="n2",
                                id_out="name", label_out="canonical")
    return (
        names.join(comp, "name", "left")
        .select("name",
                F.coalesce("canonical", F.col("name")).alias("canonical"))
        .repartition(1).sortWithinPartitions("name")
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram — quantile-calibrated bucket edges.
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH edges AS (
  -- edges rounded to 6 decimals BEFORE bucketing, matching the Spark
  -- side exactly: the raw quartiles may differ between engines in low
  -- bits (percentile vs quantile_cont interpolation), and a value
  -- sitting exactly on an edge must bucket identically on both sides
  SELECT event_type,
         ROUND(quantile_cont(value, 0.25), 6) AS q1,
         ROUND(quantile_cont(value, 0.50), 6) AS q2,
         ROUND(quantile_cont(value, 0.75), 6) AS q3
  FROM events GROUP BY event_type
),
bucketed AS (
  SELECT e.event_type,
         CASE WHEN e.value <= d.q1 THEN 0
              WHEN e.value <= d.q2 THEN 1
              WHEN e.value <= d.q3 THEN 2
              ELSE 3 END AS bucket,
         d.q1, d.q2, d.q3
  FROM events e JOIN edges d USING (event_type)
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS cnt,
       MAX(q1) AS q1, MAX(q2) AS q2, MAX(q3) AS q3
FROM bucketed GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


@query("equidepth_histogram", oracle=_EQUIDEPTH_ORACLE,
       doc="Equi-depth histogram per event type: bucket edges are the "
           "exact quartiles (the quantile-calibrated edges the "
           "fixed-width sketch's docstring defers to), then one "
           "broadcast join buckets the scan — counts land near n/4 by "
           "construction, which is what selectivity estimation wants "
           "from a histogram. Two shuffles total (edge agg + bucket "
           "agg); the edge table is group-cardinality-sized and "
           "broadcast.")
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # edges rounded BEFORE bucketing (mirrored in the oracle): both
    # engines then compare values against bit-identical boundaries, so a
    # value landing exactly on a quartile buckets the same way even when
    # percentile vs quantile_cont disagree in low-order bits
    edges = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25D)"), 6).alias("q1"),
        F.round(F.expr("percentile(value, 0.50D)"), 6).alias("q2"),
        F.round(F.expr("percentile(value, 0.75D)"), 6).alias("q3"),
    )
    bucket = (
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        ev.join(F.broadcast(edges), "event_type")
        .select("event_type", bucket.cast("bigint").alias("bucket"),
                "q1", "q2", "q3")
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.max("q1").alias("q1"),
             F.max("q2").alias("q2"),
             F.max("q3").alias("q3"))
        .repartition(1).sortWithinPartitions("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# Seasonal rate spikes — hour-of-day baselines.
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
hh AS (SELECT *, CAST(extract(hour FROM hour) AS BIGINT) AS hod FROM h),
st AS (
  SELECT event_type, hour, hod, cnt,
         COUNT(*) OVER (PARTITION BY event_type, hod) AS n,
         SUM(cnt) OVER (PARTITION BY event_type, hod) AS s,
         SUM(cnt * cnt) OVER (PARTITION BY event_type, hod) AS ss
  FROM hh
)
SELECT event_type, hour, hod, CAST(cnt AS BIGINT) AS cnt,
       ROUND(CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s AS DOUBLE), 6) AS dev,
       ROUND(3.0 * sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS threshold
FROM st
WHERE CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s AS DOUBLE)
      > 3.0 * sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
ORDER BY event_type, hour
"""


@query("seasonal_rate_spikes", oracle=_SEASONAL_ORACLE,
       doc="Rate spikes against an HOUR-OF-DAY baseline: each hour "
           "compares to the mean of its own hour-of-day across the "
           "series — diurnal peaks stop tripping the flat threshold and "
           "off-peak anomalies stop hiding under the daily average. "
           "Same integer-exact (c*n - s) > 3*sqrt(n*ss - s*s) "
           "construction as event_rate_spikes; the baseline window just "
           "partitions by (key, hod).")
def seasonal_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.sketch import seasonal_rate_spikes as _op

    return (
        _op(_events(spark, sf_dir), "event_type", "ts", sigma=3.0)
        .repartition(1).sortWithinPartitions("event_type", "hour")
    )


# ---------------------------------------------------------------------------
# KMV sketch rollup — daily sketches merge losslessly into weekly.
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
WITH hashed AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events WHERE user_id IS NOT NULL
),
daily AS (
  SELECT event_type, day,
         list_slice(list_sort(list(DISTINCT h)), 1, {KMV_K}) AS sk
  FROM hashed GROUP BY 1, 2
),
weekly AS (
  SELECT event_type, date_trunc('week', day) AS week,
         list_slice(list_sort(list_distinct(flatten(list(sk)))),
                    1, {KMV_K}) AS msk
  FROM daily GROUP BY 1, 2
),
direct AS (
  SELECT event_type, date_trunc('week', day) AS wk,
         COUNT(DISTINCT h) AS n_exact,
         list_slice(list_sort(list(DISTINCT h)), 1, {KMV_K}) AS dsk
  FROM hashed GROUP BY 1, 2
),
est AS (
  SELECT w.event_type, strftime(w.week, '%Y-%m-%d') AS week,
         d.n_exact,
         msk[LEAST({KMV_K}, len(msk))] AS mth,
         dsk[LEAST({KMV_K}, len(dsk))] AS dth,
         len(msk) AS mlen
  FROM weekly w JOIN direct d
    ON d.event_type = w.event_type AND d.wk = w.week
)
SELECT event_type, week, CAST(n_exact AS BIGINT) AS exact_distinct,
       CASE WHEN n_exact < {KMV_K} THEN CAST(n_exact AS DOUBLE)
            ELSE ROUND({float(KMV_K - 1)!r} / ({hex_fraction_sql('mth')}), 4)
       END AS kmv_merged,
       CASE WHEN n_exact < {KMV_K} THEN CAST(n_exact AS DOUBLE)
            ELSE ROUND({float(KMV_K - 1)!r} / ({hex_fraction_sql('dth')}), 4)
       END AS kmv_direct
FROM est
ORDER BY event_type, week
"""


@query("kmv_sketch_rollup", oracle=_ROLLUP_ORACLE,
       doc="Sketch-merge losslessness, demonstrated: per-(type, day) KMV "
           "sketches (k min hashes) merge into weekly sketches, and the "
           "merged estimate EQUALS the directly-computed weekly estimate "
           "— the k smallest of a union of per-day k-smallest sets IS "
           "the k smallest overall, which is exactly why KMV state can "
           "roll up across partitions/days/micro-batches without "
           "re-scanning raw data. At 100 TB only the daily-merge path "
           "runs (state O(k) per group); the direct recompute here "
           "exists to hash-prove the equality.")
def kmv_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    hashed = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    k = KMV_K
    daily = (hashed.groupBy("event_type", "day")
             .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("sk")))
    weekly = (daily.groupBy("event_type",
                            F.date_trunc("week", F.col("day")).alias("week"))
              .agg(F.slice(F.array_sort(F.array_distinct(
                  F.flatten(F.collect_list("sk")))), 1, k).alias("msk")))
    direct = (hashed.groupBy("event_type",
                             F.date_trunc("week", F.col("day")).alias("week"))
              .agg(F.count_distinct("h").alias("n_exact"),
                   F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("dsk")))
    est = weekly.join(direct, ["event_type", "week"])
    kth = lambda arr: F.element_at(F.col(arr), F.least(F.lit(k), F.size(arr)))  # noqa: E731
    small = F.col("n_exact") < k
    mk_est = lambda arr: F.when(small, F.col("n_exact").cast("double")).otherwise(  # noqa: E731
        F.round(F.lit(float(k - 1)) / hex_fraction(kth(arr)), 4))
    return (
        est.select(
            "event_type",
            F.date_format("week", "yyyy-MM-dd").alias("week"),
            F.col("n_exact").cast("bigint").alias("exact_distinct"),
            mk_est("msk").alias("kmv_merged"),
            mk_est("dsk").alias("kmv_direct"),
        )
        .repartition(1).sortWithinPartitions("event_type", "week")
    )


# ---------------------------------------------------------------------------
# k-core decomposition — iterative degree peeling over the doc graph.
# ---------------------------------------------------------------------------

_KCORE_K = 4
_KCORE_MAX_ITER = 12  # shared by the Spark loop and the oracle CTE cap

_KCORE_ORACLE = f"""
WITH RECURSIVE nn AS (SELECT COUNT(*) AS cnt FROM documents),
raw AS (
  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT cnt FROM nn) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % (SELECT cnt FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 5 + 3) % (SELECT cnt FROM nn) FROM documents
),
edges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
),
sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
alive(iter, node) AS (
  SELECT 0, a FROM (SELECT DISTINCT a FROM sym)
  UNION ALL
  SELECT d.iter + 1, d.node FROM (
    SELECT a1.iter AS iter, s.a AS node, COUNT(*) AS deg
    FROM sym s
    JOIN alive a1 ON a1.node = s.a
    JOIN alive a2 ON a2.node = s.b AND a2.iter = a1.iter
    GROUP BY a1.iter, s.a
  ) d
  WHERE d.deg >= {_KCORE_K} AND d.iter < {_KCORE_MAX_ITER}
),
core AS (SELECT node FROM alive WHERE iter = {_KCORE_MAX_ITER})
SELECT s.a AS node, COUNT(*) AS core_deg
FROM sym s
JOIN core c1 ON c1.node = s.a
JOIN core c2 ON c2.node = s.b
GROUP BY s.a
ORDER BY node
"""


@query("kcore_dense_nodes", oracle=_KCORE_ORACLE,
       doc="k-core decomposition (k=4) over the deterministic doc graph: "
           "iterative degree peeling — dropping a weak node can demote "
           "its neighbors, so plain degree filtering is wrong; the peel "
           "repeats until fixpoint (3 rounds here). Each round is two "
           "keyed joins against the shrinking alive set with "
           "localCheckpoint lineage truncation; driver traffic is one "
           "count per round. The oracle replays the peel as a recursive "
           "CTE carrying the alive set per iteration (12-round cap, "
           "converged sets propagate unchanged to the cap). The "
           "dense-region extractor behind community cores and bot-ring "
           "detection.")
def kcore_dense_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.kcore import kcore

    docs = _docs(spark, sf_dir)
    n = docs.count()  # driver scalar: node-space size for the modulus
    raw = None
    for mult, add in ((2, 1), (3, 7), (5, 3)):
        part = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * mult + add) % n).alias("dst"))
        raw = part if raw is None else raw.unionByName(part)
    edges = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    return (
        kcore(edges, k=_KCORE_K, max_iterations=_KCORE_MAX_ITER)
        .repartition(1).sortWithinPartitions("node")
    )


# ---------------------------------------------------------------------------
# BM25 retrieval — engine-exact fixed-point scoring over the inverted corpus.
# ---------------------------------------------------------------------------

_BM25_ORACLE = """
WITH docs_len AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
toks AS (
  SELECT doc_id, w AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w IN ('spark', 'merge', 'window')
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
stats AS (
  SELECT COUNT(*) AS n, SUM(dl) AS t FROM docs_len
),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(
           (CAST((2*n - 2*df + 1) * 22 * tf * t AS DOUBLE)
            / CAST((2*df + 1) * (10*tf*t + 3*t + 9*dl*n) AS DOUBLE))
           * 1000000.0) AS BIGINT) AS score_t
  FROM tf
  JOIN df USING (term)
  JOIN docs_len USING (doc_id)
  CROSS JOIN stats
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS matched_terms,
       CAST(SUM(score_t) AS BIGINT) AS score_fp
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


@query("bm25_retrieval_scores", oracle=_BM25_ORACLE,
       doc="BM25 retrieval scoring (rational idf variant, k1=1.2, b=0.75) "
           "for a 3-term query over the documents corpus: the per-term "
           "score folds into ONE exact integer fraction emitted as "
           "floor(num/den * 1e6) fixed point — no ln/pow, so the engines "
           "agree bit-for-bit — and the per-doc score is an exact BIGINT "
           "sum, immune to accumulation order. Tokens are filtered to "
           "the query terms BEFORE any shuffle: the aggregate carries "
           "O(matching docs x |Q|) rows, df is |Q| broadcast rows, and "
           "corpus stats ride a 1-row broadcast crossJoin — nothing "
           "scales with vocabulary size.")
def bm25_retrieval_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.retrieval import bm25_rational_scores

    out = bm25_rational_scores(
        _docs(spark, sf_dir), "doc_id", "text",
        ["spark", "merge", "window"])
    return (
        out.select("doc_id",
                   F.col("matched_terms").cast("bigint").alias("matched_terms"),
                   "score_fp")
        .repartition(1).sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# HyperLogLog — portable 64-register cardinality sketch.
# ---------------------------------------------------------------------------

def _hll_oracle() -> str:
    from streamalert_spark.ops.sketch import (
        HLL_NUMERATOR, HLL_M, hll_bucket_sql, hll_rho_sql, hll_term_sql,
        hll_trimmed_sql,
    )

    return f"""
WITH vals AS (
  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
  FROM events WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT event_type, v, {hll_trimmed_sql('v')} AS trimmed FROM vals
),
rhos AS (
  SELECT event_type, {hll_bucket_sql('v')} AS bucket,
         {hll_rho_sql('trimmed')} AS rho
  FROM hashed
),
regs AS (SELECT event_type, bucket, MAX(rho) AS m_j FROM rhos GROUP BY 1, 2),
spine AS (
  SELECT g.event_type, t.b AS bucket
  FROM (SELECT DISTINCT event_type FROM vals) g, range(0, {HLL_M}) t(b)
),
terms AS (
  SELECT s.event_type, {hll_term_sql('r.m_j')} AS term
  FROM spine s LEFT JOIN regs r
    ON r.event_type = s.event_type AND r.bucket = s.bucket
),
sums AS (
  SELECT event_type, CAST(SUM(term) AS BIGINT) AS hll_sum
  FROM terms GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM vals GROUP BY event_type
)
SELECT s.event_type, s.hll_sum,
       ROUND({HLL_NUMERATOR!r} / CAST(s.hll_sum AS DOUBLE), 4) AS hll_estimate,
       e.exact_distinct
FROM sums s JOIN exact e USING (event_type)
ORDER BY event_type
"""


@query("hll_distinct_users", oracle=_hll_oracle(),
       doc="HyperLogLog per-type distinct users, cross-engine-exact: rho "
           "comes from hex-string leading zeros (no log2), the harmonic "
           "denominator is the EXACT integer sum of 2^(49-M_j) bit "
           "shifts (order-free, <= 64*2^49 < 2^63), and the single float "
           "op is one division by a shared precomputed alpha*m^2*2^49 "
           "literal — so the estimate hash-matches DuckDB bit for bit, "
           "which Spark's native approx_count_distinct HLL++ never can. "
           "Raw estimator (no ln-based range corrections); the exact "
           "count rides along to expose the error. State is 64 registers "
           "per group at ANY cardinality.")
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.sketch import hll_distinct

    ev = _events(spark, sf_dir)
    return (
        hll_distinct(ev, "event_type", "user_id")
        .repartition(1).sortWithinPartitions("event_type")
    )


def _hll_rollup_oracle() -> str:
    from streamalert_spark.ops.sketch import (
        HLL_NUMERATOR, HLL_M, hll_bucket_sql, hll_rho_sql, hll_term_sql,
        hll_trimmed_sql,
    )

    return f"""
WITH vals AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS v
  FROM events WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT v, {hll_trimmed_sql('v')} AS trimmed FROM vals
),
rhos AS (
  SELECT {hll_bucket_sql('v')} AS bucket, {hll_rho_sql('trimmed')} AS rho
  FROM hashed
),
regs AS (SELECT bucket, MAX(rho) AS m_j FROM rhos GROUP BY bucket),
sums AS (
  SELECT CAST(SUM({hll_term_sql('r.m_j')}) AS BIGINT) AS s
  FROM range(0, {HLL_M}) t(b) LEFT JOIN regs r ON r.bucket = t.b
)
SELECT
  (SELECT CAST(COUNT(DISTINCT date_part('day', CAST(ts AS TIMESTAMP)) % 5)
               AS BIGINT) FROM events) AS n_shards,
  s AS merged_hll_sum,
  s AS direct_hll_sum,
  TRUE AS sums_match,
  ROUND({HLL_NUMERATOR!r} / CAST(s AS DOUBLE), 4) AS merged_estimate,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM vals) AS exact_distinct
FROM sums
"""


@query("hll_sketch_rollup", oracle=_hll_rollup_oracle(),
       doc="HLL mergeability proof: per-day-shard register tables over "
           "OVERLAPPING value sets union by MAX(m_j) per bucket, and the "
           "merged sketch's harmonic sum equals the direct whole-corpus "
           "sketch's EXACTLY (max of maxes is the max) — the property "
           "that lets per-day/per-partition sketches roll up without "
           "recomputation. Spark computes both paths genuinely (shard "
           "registers -> merge vs direct); the oracle computes the "
           "register table once — equality of the two engine-exact sums "
           "is the theorem under test.")
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.sketch import (
        HLL_NUMERATOR, hll_registers, hll_sums,
    )

    ev = _events(spark, sf_dir)
    shards = ev.select(
        (F.dayofmonth("ts") % 5).alias("shard"), "user_id")
    shard_regs = hll_registers(shards, "shard", "user_id")
    merged_regs = (
        shard_regs.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
        .withColumn("g", F.lit(1))
    )
    one = spark.range(1).select(F.lit(1).alias("g"))
    merged_sum = hll_sums(one, merged_regs, "g").select(
        F.col("hll_sum").alias("merged_hll_sum"))
    direct_regs = hll_registers(
        ev.select(F.lit(1).alias("g"), "user_id"), "g", "user_id")
    direct_sum = hll_sums(one, direct_regs, "g").select(
        F.col("hll_sum").alias("direct_hll_sum"))
    stats = ev.agg(
        F.count_distinct(F.dayofmonth("ts") % 5).cast("bigint")
         .alias("n_shards"),
        F.count_distinct(F.col("user_id").cast("string"))
         .cast("bigint").alias("exact_distinct"),
    )
    return (
        stats.crossJoin(F.broadcast(merged_sum))
        .crossJoin(F.broadcast(direct_sum))
        .select(
            "n_shards", "merged_hll_sum", "direct_hll_sum",
            (F.col("merged_hll_sum") == F.col("direct_hll_sum"))
            .alias("sums_match"),
            F.round(F.lit(HLL_NUMERATOR)
                    / F.col("merged_hll_sum").cast("double"), 4)
             .alias("merged_estimate"),
            "exact_distinct",
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate span SCRUB — the rewrite pass that follows span discovery:
# remove every token covered by a high-document-frequency n-gram and
# digest the cleaned document.
# ---------------------------------------------------------------------------

_SCRUB_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
nd AS (SELECT GREATEST(5, COUNT(*) // 250) AS floor_df FROM documents),
grams AS (
  SELECT doc_id, i AS pos, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
),
bf AS (
  SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY g) x, nd
  WHERE df >= floor_df
),
cov AS (
  SELECT DISTINCT doc_id, pos + o AS cpos
  FROM grams JOIN bf USING (g), UNNEST([0, 1, 2]) AS u(o)
),
tok AS (
  SELECT t.doc_id, i AS pos, w[i] AS tok
  FROM toks t, UNNEST(range(1, len(w) + 1)) AS r(i)
),
kept AS (
  SELECT k.doc_id, k.pos, k.tok
  FROM tok k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.cpos = k.pos
  WHERE c.doc_id IS NULL
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_digest
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
       COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       COALESCE(a.clean_digest, md5('')) AS clean_digest
FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
ORDER BY t.doc_id
"""


@query("boilerplate_span_scrub", oracle=_SCRUB_ORACLE,
       doc="Span-level dedup REWRITE (the pass boilerplate_ngram_spans "
           "discovers spans for, per CCNet/RefinedWeb line-dedup): every "
           "token covered by a 3-gram whose document frequency reaches "
           "greatest(5, n_docs/250) -- corpus-RELATIVE so the floor "
           "scales with the pool -- is scrubbed; the cleaned document is "
           "reassembled in token order and md5-digested. Shuffles: gram "
           "df (partial-agg), covered-position distinct, one anti-join, "
           "per-doc reassembly. The n_docs scalar rides a 1-row "
           "broadcast; nothing collects.")
def boilerplate_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.text import ngram_array, tokens

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = tokens(F.col("text"))
    tok = docs.select(
        "doc_id", F.posexplode(toks).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    grams = docs.select(
        "doc_id", F.posexplode(ngram_array(toks, 3)).alias("pos0", "g")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    nd = docs.agg(F.greatest(
        F.lit(5).cast("bigint"),
        F.expr("count(1) DIV 250")).alias("floor_df"))
    bf = (
        grams.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") >= F.col("floor_df"))
        .select("g")
    )
    cov = (
        grams.join(bf, "g")
        .select("doc_id", F.explode(F.array(
            F.col("pos"), F.col("pos") + 1, F.col("pos") + 2)).alias("cpos"))
        .distinct()
    )
    kept = tok.join(
        cov, (tok["doc_id"] == cov["doc_id"]) & (tok["pos"] == cov["cpos"]),
        "left_anti")
    agg = (
        kept.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"),
             F.md5(F.concat_ws(" ", F.transform(
                 F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                 lambda s: s["tok"]))).alias("clean_digest"))
    )
    base = docs.select("doc_id", F.size(toks).cast("bigint").alias("n_tokens"))
    return (
        base.join(agg, "doc_id", "left")
        .select("doc_id", "n_tokens",
                F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
                F.coalesce("clean_digest", F.md5(F.lit(""))).alias("clean_digest"))
        .repartition(1).sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Robust outliers: per-group median/MAD (exact lower-median selection)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH e AS (SELECT event_type, event_id, value FROM events),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM e
),
m1 AS (
  SELECT event_type,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
  FROM r1 GROUP BY event_type
),
d AS (
  SELECT r1.event_type, r1.event_id, r1.value, r1.n, m1.med,
         abs(r1.value - m1.med) AS dev
  FROM r1 JOIN m1 USING (event_type)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY dev, event_id) AS rn2
  FROM d
),
m2 AS (
  SELECT event_type,
         MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dev END) AS mad
  FROM r2 GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       round(MAX(d.med), 6) AS median,
       round(MAX(m2.mad), 6) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3.0 * m2.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM d JOIN m2 USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


@query("mad_outlier_summary", oracle=_MAD_ORACLE,
       doc="Robust per-group outlier summary: LOWER median by exact "
           "integer rank (both engines select the same element — no "
           "interpolation ulp risk), MAD as the lower median of "
           "|x - med|, outlier when dev > 3*MAD. Two hash-partitioned "
           "window passes keyed by group; the within-group sort is "
           "executor-local (exact-median's inherent cost — the binned "
           "histogram_quantiles op is the too-big-for-one-task path).")
def mad_outlier_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.profile import robust_outlier_summary

    ev = _events(spark, sf_dir)
    out = robust_outlier_summary(ev, "event_type", "value", "event_id", k=3.0)
    return out.repartition(1).sortWithinPartitions("event_type")


# ---------------------------------------------------------------------------
# Beaconing detection: regular-interval callbacks per (src, dst) pair
# ---------------------------------------------------------------------------

_BEACON_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS es
  FROM events WHERE user_id IS NOT NULL
),
d AS (
  SELECT user_id, event_type, event_id,
         es - lag(es) OVER (PARTITION BY user_id, event_type
                            ORDER BY es, event_id) AS delta
  FROM e
),
dd AS (SELECT * FROM d WHERE delta IS NOT NULL AND delta > 0),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY delta, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM dd
),
m1 AS (
  SELECT user_id, event_type,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN delta END) AS med
  FROM r1 GROUP BY user_id, event_type
),
dev AS (
  SELECT r1.user_id, r1.event_type, r1.event_id, r1.n,
         abs(r1.delta - m1.med) AS adev, m1.med
  FROM r1 JOIN m1 USING (user_id, event_type)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY adev, event_id) AS rn2
  FROM dev
),
m2 AS (
  SELECT user_id, event_type,
         MAX(CASE WHEN rn2 = (n + 1) // 2 THEN adev END) AS mad
  FROM r2 GROUP BY user_id, event_type
),
sc AS (
  SELECT d.user_id, d.event_type,
         CAST(MAX(d.n) AS BIGINT) AS n_deltas,
         CAST(MAX(d.med) AS BIGINT) AS median_delta_s,
         CAST(MAX(m2.mad) AS BIGINT) AS mad_delta_s,
         CAST(floor(MAX(m2.mad) * 1000000.0 / MAX(d.med)) AS BIGINT)
           AS irregularity_ppm
  FROM dev d JOIN m2 USING (user_id, event_type)
  WHERE d.med >= 1
  GROUP BY d.user_id, d.event_type
  HAVING MAX(d.n) >= 5
)
SELECT * FROM sc
ORDER BY irregularity_ppm, user_id, event_type
LIMIT 20
"""


@query("beaconing_pairs", oracle=_BEACON_ORACLE,
       doc="Beaconing detection: per (src, dst) channel, inter-arrival "
           "deltas -> exact lower-median period and MAD jitter -> "
           "irregularity = floor(MAD*1e6/median). A compromised host "
           "calling home on a timer scores near 0; human traffic scores "
           "high. Channels with >= 5 deltas, 20 most-regular. All "
           "windows hash-partitioned by the channel key; the score is "
           "integer-exact (no stddev/sqrt).")
def beaconing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull()).select(
        "user_id", "event_type", "event_id",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 "
               "00:00:00', ts) DIV 1000000").alias("es"))
    w = W.partitionBy("user_id", "event_type").orderBy("es", "event_id")
    deltas = (
        ev.withColumn("delta", F.col("es") - F.lag("es").over(w))
        .filter(F.col("delta").isNotNull() & (F.col("delta") > 0))
        .select("user_id", "event_type", "event_id", "delta")
    )
    w_ord = W.partitionBy("user_id", "event_type").orderBy("delta", "event_id")
    w_all = W.partitionBy("user_id", "event_type")
    r1 = (deltas.withColumn("rn", F.row_number().over(w_ord))
          .withColumn("n", F.count(F.lit(1)).over(w_all)))
    med = r1.groupBy("user_id", "event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"),
                     F.col("delta"))).alias("med"))
    dev = (r1.join(med, ["user_id", "event_type"])
           .withColumn("adev", F.abs(F.col("delta") - F.col("med"))))
    w_dev = W.partitionBy("user_id", "event_type").orderBy("adev", "event_id")
    r2 = dev.withColumn("rn2", F.row_number().over(w_dev))
    mad = r2.groupBy("user_id", "event_type").agg(
        F.max(F.when(F.col("rn2") == F.expr("(n + 1) DIV 2"),
                     F.col("adev"))).alias("mad"))
    sc = (
        dev.join(mad, ["user_id", "event_type"])
        .filter(F.col("med") >= 1)
        .groupBy("user_id", "event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_deltas"),
            F.max("med").cast("bigint").alias("median_delta_s"),
            F.max("mad").cast("bigint").alias("mad_delta_s"),
            F.floor(F.max("mad") * 1000000.0 / F.max("med"))
             .cast("bigint").alias("irregularity_ppm"),
        )
        .filter(F.col("n_deltas") >= 5)
    )
    return sc.orderBy("irregularity_ppm", "user_id", "event_type").limit(20)


# ---------------------------------------------------------------------------
# Impossible-travel detection (plane-coordinate speed gate)
# ---------------------------------------------------------------------------

_IMPOSSIBLE_TRAVEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS es,
         (event_id * 37) % 1000 AS x,
         (event_id * 91) % 1000 AS y
  FROM events WHERE user_id IS NOT NULL
),
hops AS (
  SELECT user_id, event_id, es, x, y,
         lag(x) OVER w AS px, lag(y) OVER w AS py,
         lag(es) OVER w AS pes
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
),
sc AS (
  SELECT user_id,
         (x - px) * (x - px) + (y - py) * (y - py) AS dist2,
         CASE WHEN es - pes < 1 THEN 1 ELSE es - pes END AS dt
  FROM hops WHERE pes IS NOT NULL
),
r AS (
  SELECT user_id, (dist2 * 1000000) // (dt * dt) AS speed2_ratio
  FROM sc
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_hops,
       CAST(SUM(CASE WHEN speed2_ratio > 25000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_impossible,
       CAST(MAX(speed2_ratio) AS BIGINT) AS max_speed2_ratio
FROM r GROUP BY user_id
ORDER BY max_speed2_ratio DESC, user_id
LIMIT 20
"""


@query("impossible_travel_hops", oracle=_IMPOSSIBLE_TRAVEL_ORACLE,
       doc="Impossible-travel detection on plane coordinates (the "
           "lat/lon-haversine seam, kept trig-free so both engines agree "
           "bit-for-bit): consecutive per-user hops score "
           "speed^2 = dist^2*1e6 DIV dt^2 as exact integers; a hop "
           "faster than the 5-units/s gate (25e6 in the squared fixed "
           "point) is impossible. One window keyed user_id, top-20 by "
           "TakeOrdered; coordinates synthesized deterministically from "
           "event_id (production swaps in a geo-IP lookup join).")
def impossible_travel_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull()).select(
        "user_id", "event_id",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 "
               "00:00:00', ts) DIV 1000000").alias("es"),
        ((F.col("event_id") * 37) % 1000).alias("x"),
        ((F.col("event_id") * 91) % 1000).alias("y"),
    )
    w = W.partitionBy("user_id").orderBy("es", "event_id")
    hops = (
        ev.select(
            "user_id", "x", "y", "es",
            F.lag("x").over(w).alias("px"),
            F.lag("y").over(w).alias("py"),
            F.lag("es").over(w).alias("pes"),
        )
        .filter(F.col("pes").isNotNull())
    )
    sc = hops.select(
        "user_id",
        ((F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
         + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py")))
        .alias("dist2"),
        F.when(F.col("es") - F.col("pes") < 1, F.lit(1))
         .otherwise(F.col("es") - F.col("pes")).alias("dt"),
    ).withColumn(
        "speed2_ratio",
        F.expr("(dist2 * CAST(1000000 AS BIGINT)) DIV (dt * dt)"))
    return (
        sc.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hops"),
            F.sum(F.when(F.col("speed2_ratio") > 25_000_000, 1).otherwise(0))
             .cast("bigint").alias("n_impossible"),
            F.max("speed2_ratio").cast("bigint").alias("max_speed2_ratio"),
        )
        .orderBy(F.col("max_speed2_ratio").desc(), "user_id").limit(20)
    )


# ---------------------------------------------------------------------------
# Half-life decayed risk score (power-of-two decay, integer-exact)
# ---------------------------------------------------------------------------

_DECAY_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, value,
         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS es
  FROM events WHERE user_id IS NOT NULL
),
anchor AS (SELECT MAX(es) AS now_s FROM e),
scored AS (
  SELECT e.user_id,
         CAST(floor(e.value * 100 + 0.5) AS BIGINT) * 1000000
           // (CAST(1 AS BIGINT) << CAST(least((anchor.now_s - e.es) // 3600,
                                               40) AS INT)) AS part
  FROM e, anchor
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(part) AS BIGINT) AS decayed_score_fp
FROM scored GROUP BY user_id
ORDER BY decayed_score_fp DESC, user_id
LIMIT 20
"""


@query("decayed_risk_scores", oracle=_DECAY_ORACLE,
       doc="Behavioral risk with a 1-hour half-life, libm-free: each "
           "event contributes floor(cents)*1e6 DIV 2^age_hours (exact "
           "integer shifts, age capped at 40 so the divisor fits "
           "BIGINT), summed per user — the exponential-decay score "
           "every SIEM uses, in arithmetic both engines reproduce bit "
           "for bit. One scan + 1-row broadcast anchor + one keyed "
           "aggregate; top-20 by TakeOrdered.")
def decayed_risk_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull()).select(
        "user_id", "value",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 "
               "00:00:00', ts) DIV 1000000").alias("es"))
    anchor = ev.agg(F.max("es").alias("now_s"))
    scored = (
        ev.crossJoin(F.broadcast(anchor))
        .withColumn("age_h", F.least(
            F.expr("(now_s - es) DIV 3600"), F.lit(40)).cast("int"))
        .withColumn(
            "part",
            F.expr("(CAST(floor(value * 100 + 0.5) AS BIGINT) "
                   "* CAST(1000000 AS BIGINT)) "
                   "DIV shiftleft(CAST(1 AS BIGINT), age_h)"))
    )
    return (
        scored.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
             F.sum("part").cast("bigint").alias("decayed_score_fp"))
        .orderBy(F.col("decayed_score_fp").desc(), "user_id").limit(20)
    )


# ---------------------------------------------------------------------------
# Typosquat / homoglyph domain detection (native levenshtein both engines)
# ---------------------------------------------------------------------------

_BRANDS = ("paypal", "google", "amazon", "microsoft", "netflix")

_TYPOSQUAT_ORACLE = f"""
WITH ids AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
brands(b) AS (SELECT UNNEST({list(_BRANDS)!r})),
cand AS (
  SELECT user_id,
         CASE
           WHEN user_id % 11 = 0 THEN substring(md5('dom:' || user_id), 1, 8)
           WHEN user_id % 7 = 0 THEN ['paypal','google','amazon','microsoft',
                                      'netflix'][CAST(user_id % 5 AS INT) + 1]
           ELSE (
             SELECT substring(b, 1, CAST(user_id % length(b) AS INT))
                    || ['0','1','x'][CAST(user_id % 3 AS INT) + 1]
                    || substring(b, CAST(user_id % length(b) AS INT) + 2)
             FROM (SELECT ['paypal','google','amazon','microsoft','netflix']
                          [CAST(user_id % 5 AS INT) + 1] AS b)
           )
         END AS domain
  FROM ids
),
dists AS (
  SELECT c.user_id, c.domain, brands.b AS brand,
         levenshtein(c.domain, brands.b) AS raw_dist,
         levenshtein(translate(c.domain, '01', 'oi'), brands.b) AS skel_dist
  FROM cand c, brands
),
best AS (
  SELECT user_id, domain,
         MIN({{'skel_dist': skel_dist, 'raw_dist': raw_dist,
              'brand': brand}}) AS m
  FROM dists GROUP BY user_id, domain
),
labeled AS (
  SELECT user_id, domain, m.brand AS matched_brand,
         CAST(m.skel_dist AS BIGINT) AS skel_dist,
         CAST(m.raw_dist AS BIGINT) AS raw_dist,
         CASE WHEN m.raw_dist = 0 THEN 'exact'
              WHEN m.skel_dist = 0 THEN 'homoglyph'
              WHEN m.skel_dist <= 1 THEN 'typosquat'
              ELSE 'clean' END AS verdict
  FROM best
)
SELECT verdict, matched_brand,
       CAST(COUNT(*) AS BIGINT) AS n_domains
FROM labeled
GROUP BY verdict, matched_brand
ORDER BY verdict, matched_brand
"""


@query("typosquat_domain_verdicts", oracle=_TYPOSQUAT_ORACLE,
       doc="Typosquat / homoglyph detection against a protected-brand "
           "list: candidate domains skeleton-map confusable chars "
           "(0->o, 1->i) then score native levenshtein against every "
           "brand (a literal-array explode — no join at all); verdict = "
           "exact / homoglyph (skeleton hit) / typosquat (distance 1) / "
           "clean. Both engines run their NATIVE edit-distance kernel. "
           "Brand list scales as a broadcast table; per-domain work is "
           "O(brands).")
def typosquat_domain_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
           .select("user_id").distinct())
    brands_arr = F.array(*[F.lit(b) for b in _BRANDS])
    b = F.element_at(brands_arr, (F.col("user_id") % 5).cast("int") + 1)
    p = (F.col("user_id") % F.length(b)).cast("int")
    mutated = F.concat(
        F.substring(b, F.lit(1), p),
        F.element_at(F.array(F.lit("0"), F.lit("1"), F.lit("x")),
                     (F.col("user_id") % 3).cast("int") + 1),
        F.substring(b, p + 2, F.length(b)),
    )
    cand = ids.withColumn(
        "domain",
        F.when(F.col("user_id") % 11 == 0,
               F.substring(F.md5(F.concat(F.lit("dom:"),
                                          F.col("user_id").cast("string"))),
                           1, 8))
         .when(F.col("user_id") % 7 == 0, b)
         .otherwise(mutated))
    dists = (
        cand.select("user_id", "domain",
                    F.explode(brands_arr).alias("brand"))
        .withColumn("raw_dist", F.levenshtein("domain", "brand"))
        .withColumn("skel_dist",
                    F.levenshtein(F.translate("domain", "01", "oi"),
                                  "brand"))
    )
    best = (
        dists.groupBy("user_id", "domain")
        .agg(F.min(F.struct("skel_dist", "raw_dist", "brand")).alias("m"))
    )
    labeled = best.select(
        "user_id", "domain",
        F.col("m.brand").alias("matched_brand"),
        F.col("m.skel_dist").cast("bigint").alias("skel_dist"),
        F.col("m.raw_dist").cast("bigint").alias("raw_dist"),
        F.when(F.col("m.raw_dist") == 0, "exact")
         .when(F.col("m.skel_dist") == 0, "homoglyph")
         .when(F.col("m.skel_dist") <= 1, "typosquat")
         .otherwise("clean").alias("verdict"),
    )
    return (
        labeled.groupBy("verdict", "matched_brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_domains"))
        .repartition(1).sortWithinPartitions("verdict", "matched_brand")
    )


# ---------------------------------------------------------------------------
# k-truss: cohesive-subgraph extraction by cascading triangle-support prune
# ---------------------------------------------------------------------------

def _ktruss_oracle(rounds: int = 3, minsup: int = 2) -> str:
    """Unrolled fixed-round k-truss as MATERIALIZED CTEs (without the
    hint DuckDB inlines each round's THREE references to the previous
    round, which expands exponentially — measured minutes at round 4;
    materialized it is milliseconds)."""
    def tri(e: str) -> str:
        return (f"SELECT e1.a AS a, e1.b AS b, e2.b AS c FROM {e} e1 "
                f"JOIN {e} e2 ON e2.a = e1.b "
                f"JOIN {e} e3 ON e3.a = e1.a AND e3.b = e2.b")

    ctes = ["""nodes AS MATERIALIZED (
  SELECT DISTINCT doc_id % 60 AS v FROM documents
),
e0 AS MATERIALIZED (
  SELECT x.v AS a, y.v AS b
  FROM nodes x, nodes y
  WHERE x.v < y.v AND (
    (x.v // 6 = y.v // 6 AND (x.v + y.v) % 5 <> 0)
    OR y.v = x.v + 6
  )
)"""]
    for i in range(rounds):
        ctes.append(f"t{i} AS MATERIALIZED ({tri(f'e{i}')})")
        ctes.append(f"""s{i} AS MATERIALIZED (
  SELECT x AS a, y AS b, CAST(COUNT(*) AS BIGINT) AS sup FROM (
    SELECT a AS x, b AS y FROM t{i}
    UNION ALL SELECT b, c FROM t{i}
    UNION ALL SELECT a, c FROM t{i}
  ) GROUP BY x, y
)""")
        ctes.append(f"""e{i + 1} AS MATERIALIZED (
  SELECT s.a, s.b, s.sup FROM s{i} s JOIN e{i} e ON e.a = s.a AND e.b = s.b
  WHERE s.sup >= {minsup}
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT a, b, sup FROM e{rounds} ORDER BY a, b")


@query("ktruss_edges", oracle=_ktruss_oracle(),
       doc="4-truss extraction over a punctured-clique fixture graph "
           "(blocks of 6 with holes + cross-block spokes): edges must "
           "sit in >= 2 triangles of the CURRENT subgraph, pruned for 3 "
           "cascading rounds (the fixture converges in 2 — round 3 "
           "proves the fixed point). Completes the graph family next to "
           "pagerank/triangles/k-core/components: k-core peels NODES by "
           "degree, k-truss peels EDGES by triangle support — the "
           "stronger cohesion test that kills hub-and-spoke 'communit"
           "ies'. Per round: ordered-wedge triangle join + one support "
           "count + one edge-keyed prune join; no driver collects.")
def ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamalert_spark.ops.kcore import ktruss

    nodes = (_docs(spark, sf_dir)
             .select((F.col("doc_id") % 60).alias("v")).distinct())
    x = nodes.alias("x")
    y = nodes.alias("y")
    edges = (
        x.join(y, (F.col("x.v") < F.col("y.v"))
               & ((F.expr("x.v DIV 6") == F.expr("y.v DIV 6"))
                  & ((F.col("x.v") + F.col("y.v")) % 5 != 0)
                  | (F.col("y.v") == F.col("x.v") + 6)))
        .select(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
    )
    out = ktruss(edges, k=4, rounds=3)
    return out.repartition(1).sortWithinPartitions("a", "b")


# ---------------------------------------------------------------------------
# Link prediction — common-neighbor / Jaccard scoring of 2-hop non-edges.
# ---------------------------------------------------------------------------

_LINKPRED_ORACLE = """
WITH n AS (SELECT COUNT(*) AS cnt FROM documents),
raw AS (
  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT cnt FROM n) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % (SELECT cnt FROM n) FROM documents
),
edges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
),
sym AS (
  SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges
),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
cand AS (
  SELECT s1.u AS a, s2.v AS c, CAST(COUNT(*) AS BIGINT) AS cn
  FROM sym s1 JOIN sym s2 ON s2.u = s1.v AND s1.u < s2.v
  WHERE NOT EXISTS (SELECT 1 FROM edges e
                    WHERE e.a = s1.u AND e.b = s2.v)
  GROUP BY s1.u, s2.v
)
SELECT cand.a, cand.c, cand.cn,
       CAST((cand.cn * 1000000)
            // (da.d + dc.d - cand.cn) AS BIGINT) AS jaccard_ppm
FROM cand
JOIN deg da ON da.node = cand.a
JOIN deg dc ON dc.node = cand.c
ORDER BY cand.cn DESC, jaccard_ppm DESC, cand.a, cand.c
LIMIT 100
"""


@query("link_prediction_scores", oracle=_LINKPRED_ORACLE,
       doc="Link prediction over the deterministic doc graph: candidate "
           "pairs are 2-hop neighbors with no direct edge, scored by "
           "common-neighbor count and exact integer Jaccard "
           "(cn*1e6 DIV (deg_a+deg_c-cn)) — the classic "
           "common-neighbors/Jaccard baselines of Liben-Nowell & "
           "Kleinberg. One wedge self-join (oriented a<c so each pair "
           "counts once), one anti-join against the edge set, two "
           "degree-broadcast joins, top-100 by TakeOrdered — no global "
           "sort, no driver collect. Wedge fan-out is the same "
           "hub-bounded pattern as graph_triangles.")
def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n = docs.count()  # driver scalar: node-space size for the modulus
    raw = docs.select(F.col("doc_id").alias("src"),
                      ((F.col("doc_id") * 2 + 1) % n).alias("dst")) \
        .unionByName(docs.select(F.col("doc_id").alias("src"),
                                 ((F.col("doc_id") * 3 + 7) % n).alias("dst")))
    edges = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")) \
        .unionByName(edges.select(F.col("b").alias("u"),
                                  F.col("a").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")) \
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    s1 = sym.select(F.col("u").alias("a"), F.col("v").alias("w"))
    s2 = sym.select(F.col("u").alias("w"), F.col("v").alias("c"))
    two_hop = (s1.join(s2, "w")
               .filter(F.col("a") < F.col("c"))
               .select("a", "c"))
    cand = (
        two_hop.join(edges.select(F.col("a"), F.col("b").alias("c")),
                     ["a", "c"], "left_anti")
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("node").alias("c"), F.col("d").alias("dc"))
    return (
        cand.join(da, "a").join(dc, "c")
        .select("a", "c", "cn",
                F.expr("(cn * 1000000) DIV (da + dc - cn)")
                .cast("bigint").alias("jaccard_ppm"))
        .orderBy(F.col("cn").desc(), F.col("jaccard_ppm").desc(), "a", "c")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# EWMA control chart — integer fixed-point smoothing over the hourly spine.
# ---------------------------------------------------------------------------

_EWMA_SCALE = 1_000_000

_EWMA_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS h
  FROM events
),
bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
spine AS (
  SELECT t.event_type, CAST(s.h AS BIGINT) AS h,
         row_number() OVER (PARTITION BY t.event_type
                            ORDER BY s.h) AS rn
  FROM (SELECT DISTINCT event_type FROM ev) t,
       (SELECT UNNEST(range((SELECT lo FROM bounds),
                            (SELECT hi FROM bounds) + 1)) AS h) s
),
cnts AS (
  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS x
  FROM ev GROUP BY event_type, h
),
xs AS (
  SELECT sp.event_type, sp.h, sp.rn, COALESCE(c.x, 0) AS x
  FROM spine sp LEFT JOIN cnts c USING (event_type, h)
),
walk AS (
  SELECT event_type, h, rn, x,
         CAST(0 AS BIGINT) AS s_prev_fp,
         x * {_EWMA_SCALE} AS s_fp
  FROM xs WHERE rn = 1
  UNION ALL
  SELECT xs.event_type, xs.h, xs.rn, xs.x,
         w.s_fp AS s_prev_fp,
         (3 * w.s_fp) // 4 + (xs.x * {_EWMA_SCALE}) // 4
  FROM xs JOIN walk w
    ON xs.event_type = w.event_type AND xs.rn = w.rn + 1
)
SELECT event_type, h, x, s_prev_fp
FROM walk
WHERE rn > 1 AND x >= 5 AND x * {_EWMA_SCALE} > 2 * s_prev_fp
ORDER BY event_type, h
"""


@query("ewma_control_chart", oracle=_EWMA_ORACLE,
       doc="EWMA control chart (alpha=1/4) over per-type hourly counts "
           "on a zero-filled spine, in exact fixed-point integers: "
           "s' = (3s) DIV 4 + (x*1e6) DIV 4 — non-negative floor "
           "division, so both engines fold bit-identically (the "
           "decayed-counter discipline). Alerts = hours whose count "
           "more than doubles the smoothed baseline (x >= 5 floor). "
           "The fold runs NATIVELY via F.aggregate over each type's "
           "hour array — per-type arrays are bounded by the time range "
           "(not row count), the one shuffle is the hourly pre-count, "
           "and nothing leaves the JVM; the oracle replays the fold as "
           "a recursive CTE.")
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 "
               "00:00:00', ts) DIV 1000000 DIV 3600").alias("h"))
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"))
    per_type = (
        hourly.groupBy("event_type")
        .agg(F.map_from_entries(F.collect_list(F.struct("h", "x")))
             .alias("m"))
        .crossJoin(F.broadcast(bounds))
    )
    # fold state: (s_fp, flagged hours).  seq index i -> hour lo+i;
    # rn==1 seeds s with x*SCALE (no alert possible on the seed).
    folded = per_type.select(
        "event_type",
        F.aggregate(
            F.sequence(F.col("lo"), F.col("hi")),
            F.struct(
                F.lit(-1).cast("bigint").alias("s_fp"),
                F.expr("CAST(array() AS array<struct<h:bigint,x:bigint,"
                       "s_prev_fp:bigint>>)").alias("hits"),
            ),
            lambda acc, h: (lambda x: F.struct(
                F.when(acc["s_fp"] < 0, x * _EWMA_SCALE)
                 .otherwise(
                     # DIV 4 as shiftright: exact integer floor division
                     # on non-negative bigints (no double round-trip)
                     F.shiftright(3 * acc["s_fp"], 2)
                     + F.shiftright(x * _EWMA_SCALE, 2))
                 .cast("bigint").alias("s_fp"),
                F.when(
                    (acc["s_fp"] >= 0) & (x >= 5)
                    & (x * _EWMA_SCALE > 2 * acc["s_fp"]),
                    F.concat(acc["hits"], F.array(F.struct(
                        h.cast("bigint").alias("h"),
                        x.cast("bigint").alias("x"),
                        acc["s_fp"].cast("bigint").alias("s_prev_fp")))),
                ).otherwise(acc["hits"]).alias("hits"),
            ))(F.coalesce(F.element_at(F.col("m"), h), F.lit(0))),
        )["hits"].alias("hits"),
    )
    return (
        folded.select("event_type", F.explode("hits").alias("e"))
        .select("event_type", F.col("e.h").alias("h"),
                F.col("e.x").alias("x"),
                F.col("e.s_prev_fp").alias("s_prev_fp"))
        .repartition(1).sortWithinPartitions("event_type", "h")
    )


# ---------------------------------------------------------------------------
# DNS tunneling detection — integer label statistics over query names.
# ---------------------------------------------------------------------------

_DNS_TUNNEL_ORACLE = """
WITH ids AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
qnames AS (
  SELECT user_id,
         CASE WHEN user_id % 4 = 0
              THEN substring(md5('dns:' || user_id), 1, 26)
                   || '.' || substring(md5('dns2:' || user_id), 1, 20)
                   || '.t.example.com'
              WHEN user_id % 4 = 1 THEN 'www.example.com'
              ELSE 'api-' || (user_id % 100) || '.example.com'
         END AS qname
  FROM ids
),
feats AS (
  SELECT user_id, qname,
         CAST(len(string_split(qname, '.')) AS BIGINT) AS n_labels,
         CAST((SELECT MAX(len(l)) FROM UNNEST(string_split(qname, '.'))
               AS t(l)) AS BIGINT) AS max_label_len,
         string_split(qname, '.')[1] AS first_label
  FROM qnames
),
scored AS (
  SELECT user_id, qname, n_labels, max_label_len,
         CAST(CASE WHEN len(first_label) = 0 THEN 0
              ELSE ((len(first_label)
                     - len(regexp_replace(first_label, '[0-9]', '', 'g')))
                    * 1000000) // len(first_label) END AS BIGINT)
           AS digit_ppm
  FROM feats
)
SELECT user_id, qname, n_labels, max_label_len, digit_ppm,
       CASE WHEN max_label_len >= 24 AND digit_ppm >= 150000
            THEN 'tunnel_suspect' ELSE 'benign' END AS verdict
FROM scored
ORDER BY user_id
"""


@query("dns_tunnel_scores", oracle=_DNS_TUNNEL_ORACLE,
       doc="DNS tunneling detection on query names (the classic exfil "
           "channel every reference deployment watches): per-name "
           "integer features — label count, max label length, "
           "digit-ratio ppm of the leftmost label — flag names whose "
           "encoded-payload shape (long high-digit first label) "
           "crosses both thresholds. Pure generated projection over "
           "synthesized deterministic qnames: zero shuffle at any "
           "scale, and every feature is exact integer arithmetic both "
           "engines reproduce (no entropy/libm).")
def dns_tunnel_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
           .select("user_id").distinct())
    u = F.col("user_id").cast("string")
    qname = (
        F.when(F.col("user_id") % 4 == 0,
               F.concat(F.substring(F.md5(F.concat(F.lit("dns:"), u)), 1, 26),
                        F.lit("."),
                        F.substring(F.md5(F.concat(F.lit("dns2:"), u)), 1, 20),
                        F.lit(".t.example.com")))
        .when(F.col("user_id") % 4 == 1, F.lit("www.example.com"))
        .otherwise(F.concat(F.lit("api-"),
                            (F.col("user_id") % 100).cast("string"),
                            F.lit(".example.com")))
    )
    feats = ids.select(
        "user_id", qname.alias("qname"),
    ).select(
        "user_id", "qname",
        F.size(F.split("qname", r"\.")).cast("bigint").alias("n_labels"),
        F.array_max(F.transform(F.split("qname", r"\."), F.length))
         .cast("bigint").alias("max_label_len"),
        F.element_at(F.split("qname", r"\."), 1).alias("first_label"),
    )
    lbl_len = F.length("first_label")
    digit_ppm = F.when(lbl_len == 0, F.lit(0)).otherwise(
        F.expr("((length(first_label) - length(regexp_replace("
               "first_label, '[0-9]', ''))) * 1000000) "
               "DIV length(first_label)")).cast("bigint")
    return (
        feats.withColumn("digit_ppm", digit_ppm)
        .select("user_id", "qname", "n_labels", "max_label_len", "digit_ppm",
                F.when((F.col("max_label_len") >= 24)
                       & (F.col("digit_ppm") >= 150000),
                       F.lit("tunnel_suspect"))
                 .otherwise(F.lit("benign")).alias("verdict"))
        .repartition(1).sortWithinPartitions("user_id")
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection — cumulative positive drift over the spine.
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS h
  FROM events
),
bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
mus AS (
  SELECT event_type,
         CAST(COUNT(*) // ((SELECT hi - lo + 1 FROM bounds)) AS BIGINT)
           AS mu
  FROM ev GROUP BY event_type
),
spine AS (
  SELECT t.event_type, CAST(s.h AS BIGINT) AS h,
         row_number() OVER (PARTITION BY t.event_type
                            ORDER BY s.h) AS rn
  FROM (SELECT DISTINCT event_type FROM ev) t,
       (SELECT UNNEST(range((SELECT lo FROM bounds),
                            (SELECT hi FROM bounds) + 1)) AS h) s
),
cnts AS (
  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS x
  FROM ev GROUP BY event_type, h
),
xs AS (
  SELECT sp.event_type, sp.h, sp.rn, COALESCE(c.x, 0) AS x, m.mu
  FROM spine sp
  LEFT JOIN cnts c USING (event_type, h)
  JOIN mus m USING (event_type)
),
walk AS (
  SELECT event_type, h, rn, x, mu,
         CAST(0 AS BIGINT) AS s_prev,
         greatest(CAST(0 AS BIGINT), x - mu) AS s
  FROM xs WHERE rn = 1
  UNION ALL
  SELECT xs.event_type, xs.h, xs.rn, xs.x, xs.mu,
         w.s AS s_prev,
         greatest(CAST(0 AS BIGINT), w.s + xs.x - xs.mu)
  FROM xs JOIN walk w
    ON xs.event_type = w.event_type AND xs.rn = w.rn + 1
)
SELECT event_type, h, x, mu, s AS cusum
FROM walk
WHERE s_prev <= 4 * mu AND s > 4 * mu
ORDER BY event_type, h
"""


@query("cusum_changepoints", oracle=_CUSUM_ORACLE,
       doc="CUSUM change-point detection per event type (Page 1954): "
           "fold S' = max(0, S + x - mu) over the zero-filled hourly "
           "spine with mu = the type's integer mean hourly rate; emit "
           "the hours where S first CROSSES the 4*mu decision band — "
           "the persistent-rate-shift detector that complements the "
           "EWMA chart's transient-spike alarm. All-integer fold (no "
           "floats to drift), run natively via F.aggregate per type; "
           "the oracle replays it as a recursive CTE. One hourly "
           "pre-count shuffle; per-type arrays bound by the time "
           "range, not row count.")
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 "
               "00:00:00', ts) DIV 1000000 DIV 3600").alias("h"))
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"))
    per_type = (
        hourly.groupBy("event_type")
        .agg(F.map_from_entries(F.collect_list(F.struct("h", "x")))
             .alias("m"),
             F.sum("x").cast("bigint").alias("total"))
        .crossJoin(F.broadcast(bounds))
        .withColumn("mu", F.expr("total DIV (hi - lo + 1)").cast("bigint"))
    )
    x_at = lambda h: F.coalesce(F.element_at(F.col("m"), h), F.lit(0))  # noqa: E731
    folded = per_type.select(
        "event_type", "mu",
        F.aggregate(
            F.sequence(F.col("lo"), F.col("hi")),
            F.struct(
                F.lit(-1).cast("bigint").alias("s"),
                F.expr("CAST(array() AS array<struct<h:bigint,x:bigint,"
                       "cusum:bigint>>)").alias("hits"),
            ),
            lambda acc, h: F.struct(
                F.greatest(
                    F.lit(0).cast("bigint"),
                    F.greatest(acc["s"], F.lit(0)) + x_at(h) - F.col("mu"))
                 .alias("s"),
                F.when(
                    (F.greatest(acc["s"], F.lit(0)) <= 4 * F.col("mu"))
                    & (F.greatest(
                        F.lit(0).cast("bigint"),
                        F.greatest(acc["s"], F.lit(0)) + x_at(h)
                        - F.col("mu")) > 4 * F.col("mu")),
                    F.concat(acc["hits"], F.array(F.struct(
                        h.cast("bigint").alias("h"),
                        x_at(h).cast("bigint").alias("x"),
                        F.greatest(
                            F.lit(0).cast("bigint"),
                            F.greatest(acc["s"], F.lit(0)) + x_at(h)
                            - F.col("mu")).cast("bigint").alias("cusum")))),
                ).otherwise(acc["hits"]).alias("hits"),
            ),
        )["hits"].alias("hits"),
    )
    return (
        folded.select("event_type", "mu", F.explode("hits").alias("e"))
        .select("event_type", F.col("e.h").alias("h"),
                F.col("e.x").alias("x"), "mu",
                F.col("e.cusum").alias("cusum"))
        .repartition(1).sortWithinPartitions("event_type", "h")
    )


# ---------------------------------------------------------------------------
# Password-spray detection — one source, many accounts, low per-account rate.
# ---------------------------------------------------------------------------

_SPRAY_ORACLE = """
WITH fails AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS src,
         user_id,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS d
  FROM events
  WHERE event_type = 'error' AND user_id IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
),
per_user AS (
  SELECT src, d, user_id, CAST(COUNT(*) AS BIGINT) AS attempts
  FROM fails GROUP BY src, d, user_id
),
per_window AS (
  SELECT src, d,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(attempts) AS BIGINT) AS n_attempts,
         CAST(MAX(attempts) AS BIGINT) AS max_per_user
  FROM per_user GROUP BY src, d
)
SELECT src, d, n_users, n_attempts, max_per_user
FROM per_window
WHERE n_users >= 3 AND max_per_user <= 2
ORDER BY src, d
"""


@query("password_spray_windows", oracle=_SPRAY_ORACLE,
       doc="Password-spray detection: one SOURCE hitting MANY accounts "
           "with few attempts each inside a day window — the "
           "low-and-slow inverse of brute force that per-account "
           "lockouts never see (>=3 distinct accounts in a day, <=2 "
           "attempts per account). Completes the auth-attack family next to "
           "beaconing (C2), impossible travel (session theft), and CEP "
           "(brute-force-then-success). Two partial-aggregated "
           "shuffles — (src, day, user) then (src, day) — and "
           "every measure is an exact integer.")
def password_spray_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    fails = (_events(spark, sf_dir)
             .filter((F.col("event_type") == "error")
                     & F.col("user_id").isNotNull()
                     # a NULL src would sort NULLS FIRST here but NULLS
                     # LAST in the DuckDB oracle — exclude it in BOTH
                     & F.get_json_object("props", "$.k").isNotNull())
             .select(
                 F.get_json_object("props", "$.k").cast("bigint")
                 .alias("src"),
                 "user_id",
                 F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ "
                        "'1970-01-01 00:00:00', ts) DIV 1000000 DIV 86400")
                 .alias("d")))
    per_user = (fails.groupBy("src", "d", "user_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("attempts")))
    per_window = (
        per_user.groupBy("src", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
             F.sum("attempts").cast("bigint").alias("n_attempts"),
             F.max("attempts").cast("bigint").alias("max_per_user")))
    return (
        per_window.filter((F.col("n_users") >= 3)
                          & (F.col("max_per_user") <= 2))
        .repartition(1).sortWithinPartitions("src", "d")
    )


# ---------------------------------------------------------------------------
# Deterministic multiplier-bootstrap confidence intervals.
# ---------------------------------------------------------------------------

_BOOTSTRAP_ORACLE = """
WITH purch AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('purchase', 'click', 'view')
),
reps AS (
  SELECT p.event_id, p.event_type, p.cents, CAST(b AS BIGINT) AS b,
         (CASE WHEN substring(md5(b || ':' || p.event_id), 1, 1)
                    IN ('1','3','5','7','9','b','d','f')
               THEN 1 ELSE 0 END
          + CASE WHEN substring(md5(b || ':' || p.event_id), 2, 1)
                      IN ('1','3','5','7','9','b','d','f')
                 THEN 1 ELSE 0 END) AS w
  FROM purch p, UNNEST(range(0, 32)) AS t(b)
),
rep_means AS (
  SELECT event_type, b,
         CASE WHEN SUM(w) = 0 THEN NULL
              ELSE CAST((SUM(w * cents) * 1000000) // SUM(w) AS BIGINT)
         END AS mean_fp
  FROM reps GROUP BY event_type, b
),
sorted AS (
  SELECT event_type, list_sort(list(mean_fp)) AS ms
  FROM rep_means WHERE mean_fp IS NOT NULL GROUP BY event_type
),
point AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST((SUM(cents) * 1000000) // COUNT(*) AS BIGINT) AS point_fp
  FROM purch GROUP BY event_type
)
SELECT p.event_type, p.n, p.point_fp,
       s.ms[2] AS ci_lo_fp, s.ms[31] AS ci_hi_fp
FROM point p JOIN sorted s USING (event_type)
ORDER BY event_type
"""


@query("bootstrap_ci_means", oracle=_BOOTSTRAP_ORACLE,
       doc="Deterministic multiplier-bootstrap CI for the mean event "
           "value per type: 32 replicas reweight every row by "
           "w in {0,1,2} (two independent md5-derived coin flips — a "
           "bounded-weight multiplier bootstrap; seeded hashing replaces "
           "RNG so any engine reproduces the replicas bit-for-bit), each "
           "replica's weighted mean is exact integer micro-cents, and "
           "the CI is the 2nd/31st order statistic of the 32 sorted "
           "replica means. One 32x row expansion into a "
           "partial-aggregated (type, replica) shuffle — replicas "
           "never materialize the corpus, and no RNG state exists to "
           "desynchronize executors at any cluster size.")
def bootstrap_ci_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    purch = (_events(spark, sf_dir)
             .filter(F.col("event_type").isin("purchase", "click", "view"))
             .select("event_id", "event_type",
                     F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                     .alias("cents")))
    odd = "('1','3','5','7','9','b','d','f')"
    reps = (purch
            .withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(31))))
            .withColumn("h", F.md5(F.concat(F.col("b").cast("string"),
                                            F.lit(":"),
                                            F.col("event_id")
                                            .cast("string"))))
            .withColumn("w", F.expr(
                f"CASE WHEN substring(h, 1, 1) IN {odd} THEN 1 ELSE 0 END"
                f" + CASE WHEN substring(h, 2, 1) IN {odd} THEN 1 ELSE 0 "
                f"END")))
    rep_means = (reps.groupBy("event_type", "b")
                 .agg(F.sum("w").alias("sw"),
                      F.sum(F.col("w") * F.col("cents")).alias("swc"))
                 .select("event_type",
                         F.when(F.col("sw") == 0, F.lit(None))
                         .otherwise(F.expr("(swc * 1000000) DIV sw"))
                         .cast("bigint").alias("mean_fp")))
    # Drop NULL replica means (sum(w)=0, possible only at tiny event
    # counts) BEFORE sorting: Spark's collect_list skips NULLs while
    # DuckDB's list() keeps them, so an unfiltered degenerate replica
    # would shift the order statistics differently per engine.
    sorted_ms = (rep_means.filter(F.col("mean_fp").isNotNull())
                 .groupBy("event_type")
                 .agg(F.array_sort(F.collect_list("mean_fp")).alias("ms")))
    point = (purch.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                  F.expr("(SUM(cents) * 1000000) DIV COUNT(*)")
                  .cast("bigint").alias("point_fp")))
    return (
        point.join(sorted_ms, "event_type")
        .select("event_type", "n", "point_fp",
                F.element_at("ms", 2).alias("ci_lo_fp"),
                F.element_at("ms", 31).alias("ci_hi_fp"))
        .repartition(1).sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# Label-propagation communities — synchronous LPA, fixed rounds.
# ---------------------------------------------------------------------------

_LPA_ORACLE = """
WITH n AS (SELECT COUNT(*) AS cnt FROM documents),
raw AS (
  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT cnt FROM n) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % (SELECT cnt FROM n) FROM documents
),
edges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
),
sym AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges),
l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
v1 AS (
  SELECT s.u AS node, l.lbl, COUNT(*) AS c
  FROM sym s JOIN l0 l ON l.node = s.v GROUP BY s.u, l.lbl
),
l1 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl, row_number() OVER (
      PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v1) WHERE rn = 1
),
v2 AS (
  SELECT s.u AS node, l.lbl, COUNT(*) AS c
  FROM sym s JOIN l1 l ON l.node = s.v GROUP BY s.u, l.lbl
),
l2 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl, row_number() OVER (
      PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v2) WHERE rn = 1
),
v3 AS (
  SELECT s.u AS node, l.lbl, COUNT(*) AS c
  FROM sym s JOIN l2 l ON l.node = s.v GROUP BY s.u, l.lbl
),
l3 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl, row_number() OVER (
      PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v3) WHERE rn = 1
)
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node,
       CAST(MAX(node) AS BIGINT) AS max_node
FROM l3
GROUP BY lbl
HAVING COUNT(*) >= 2
ORDER BY n_nodes DESC, community
"""


@query("lpa_communities", oracle=_LPA_ORACLE,
       doc="Label-propagation communities (Raghavan et al. 2007) over "
           "the deterministic doc graph: labels start as node ids, each "
           "SYNCHRONOUS round reassigns every node the MODE of its "
           "neighbors' labels (ties -> min label, so the algorithm is "
           "deterministic — async LPA is famously not), 3 rounds "
           "unrolled; output = communities of size >= 2. Differs from "
           "connected components (min-label convergence) by splitting "
           "a component along dense cores. Per round: one edge-keyed "
           "join + one (node, label) partial-aggregated count + one "
           "per-node top-1 window — the GraphX/Pregel LPA shape in "
           "pure DataFrame ops, lineage cut per round.")
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    n = docs.count()  # driver scalar: node-space size for the modulus
    raw = docs.select(F.col("doc_id").alias("src"),
                      ((F.col("doc_id") * 2 + 1) % n).alias("dst")) \
        .unionByName(docs.select(F.col("doc_id").alias("src"),
                                 ((F.col("doc_id") * 3 + 7) % n).alias("dst")))
    edges = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")) \
        .unionByName(edges.select(F.col("b").alias("u"),
                                  F.col("a").alias("v"))) \
        .localCheckpoint()
    labels = sym.select(F.col("u").alias("node")).distinct() \
        .select("node", F.col("node").alias("lbl"))
    w = W.partitionBy("node").orderBy(F.col("c").desc(), "lbl")
    for _ in range(3):
        votes = (sym.join(labels.select(F.col("node").alias("v"), "lbl"),
                          "v")
                 .groupBy(F.col("u").alias("node"), "lbl")
                 .agg(F.count(F.lit(1)).alias("c")))
        labels = (votes.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("node", "lbl")
                  .localCheckpoint())
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
             F.min("node").cast("bigint").alias("min_node"),
             F.max("node").cast("bigint").alias("max_node"))
        .filter(F.col("n_nodes") >= 2)
        .repartition(1)
        .sortWithinPartitions(F.col("n_nodes").desc(), "community")
    )


# ---------------------------------------------------------------------------
# Benford first-significant-digit audit — data-forensics / fraud screen.
# ---------------------------------------------------------------------------

# log10(1 + 1/d) in exact parts-per-million; the nine entries sum to
# exactly 1,000,000, so the constants introduce no rounding drift in
# either engine.
_BENFORD_PPM = "[301030,176091,124939,96910,79181,66947,57992,51153,45757]"

_BENFORD_ORACLE = f"""
WITH c AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
d AS (
  SELECT event_type,
         CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM c WHERE cents > 0
),
per AS (
  SELECT event_type, digit, CAST(COUNT(*) AS BIGINT) AS n_d
  FROM d GROUP BY event_type, digit
),
tot AS (
  SELECT event_type, CAST(SUM(n_d) AS BIGINT) AS n FROM per
  GROUP BY event_type
),
scored AS (
  SELECT p.event_type, p.digit, p.n_d, t.n,
         CAST((p.n_d * 1000000) // t.n AS BIGINT) AS obs_ppm,
         CAST(({_BENFORD_PPM})[p.digit] AS BIGINT) AS exp_ppm
  FROM per p JOIN tot t USING (event_type)
)
SELECT event_type, digit, n_d, obs_ppm, exp_ppm,
       CAST(abs(obs_ppm - exp_ppm) AS BIGINT) AS dev_ppm,
       CAST(SUM(abs(obs_ppm - exp_ppm))
            OVER (PARTITION BY event_type) AS BIGINT) AS sad_ppm
FROM scored
ORDER BY event_type, digit
"""


@query("benford_first_digit_audit", oracle=_BENFORD_ORACLE,
       doc="Benford's-law first-significant-digit audit per event type — "
           "the standard forensic screen for fabricated or generated "
           "numeric columns (human-invented amounts under-use leading "
           "1s). The digit is taken from the INTEGER cents string, so no "
           "float log10 ever runs; expected frequencies are exact ppm "
           "constants that sum to 1e6; the per-type deviation is the sum "
           "of absolute ppm gaps (integer-safe at any corpus size, "
           "unlike a chi-square numerator which overflows bigint at "
           "~1e6 rows). One partial-aggregated (type, digit) shuffle "
           "over the scan; the digit domain caps output at 9 rows/type.")
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cents = (_events(spark, sf_dir)
             .filter(F.col("value").isNotNull())
             .select("event_type",
                     F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                     .alias("cents"))
             .filter(F.col("cents") > 0))
    per = (cents
           .select("event_type",
                   F.substring(F.col("cents").cast("string"), 1, 1)
                   .cast("bigint").alias("digit"))
           .groupBy("event_type", "digit")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_d")))
    tw = W.partitionBy("event_type")
    scored = (per
              .withColumn("n", F.sum("n_d").over(tw))
              .withColumn("obs_ppm", F.expr("(n_d * 1000000) DIV n"))
              .withColumn("exp_ppm",
                          F.expr(f"CAST(element_at(array({_BENFORD_PPM[1:-1]}), "
                                 "CAST(digit AS INT)) AS BIGINT)")))
    return (
        scored
        .withColumn("dev_ppm", F.expr("abs(obs_ppm - exp_ppm)"))
        .withColumn("sad_ppm",
                    F.sum("dev_ppm").over(tw).cast("bigint"))
        .select("event_type", "digit", "n_d", "obs_ppm", "exp_ppm",
                "dev_ppm", "sad_ppm")
        .repartition(1).sortWithinPartitions("event_type", "digit")
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness (CV^2) — bot/automation detector.
# ---------------------------------------------------------------------------

_BURSTINESS_ORACLE = """
WITH seq AS (
  SELECT user_id,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
         event_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
gaps AS (
  SELECT user_id,
         s - lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS g
  FROM seq
),
agg AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(g) AS HUGEINT) AS sum_g,
         CAST(SUM(g * g) AS HUGEINT) AS sum_g2
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
),
scored AS (
  SELECT user_id, n_gaps,
         CAST((sum_g * 1000000) // n_gaps AS BIGINT) AS mean_gap_fp,
         CAST(((n_gaps * sum_g2 - sum_g * sum_g) * 1000000)
              // (sum_g * sum_g) AS BIGINT) AS cv2_fp
  FROM agg WHERE n_gaps >= 2 AND sum_g > 0
)
SELECT user_id, n_gaps, mean_gap_fp, cv2_fp,
       CASE WHEN cv2_fp > 2000000 THEN 'bursty'
            WHEN cv2_fp < 500000 THEN 'periodic'
            ELSE 'poissonish' END AS regime
FROM scored
ORDER BY user_id
"""


@query("interarrival_burstiness", oracle=_BURSTINESS_ORACLE,
       doc="Squared coefficient of variation of per-user inter-event "
           "gaps — the classic automation/bot discriminator (machine "
           "schedules give CV^2 << 1, human/Poisson activity ~1, bursty "
           "retry storms >> 1; complements beaconing_pairs, which looks "
           "at src->dst pairs, by classifying the USER timeline). "
           "Exact integer arithmetic end-to-end: CV^2 = n*Sum(g^2)/"
           "Sum(g)^2 - 1 rearranged to a single fixed-point division "
           "over DECIMAL(38,0)/HUGEINT power sums (bigint would "
           "overflow once gaps span months), so no float variance ever "
           "crosses engines. One per-user window (hash-partitioned by "
           "user, no global sort) + one partial-aggregated shuffle.")
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    seq = (_events(spark, sf_dir)
           .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
           .select("user_id", "event_id",
                   F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ "
                          "'1970-01-01 00:00:00', ts) DIV 1000000")
                   .alias("s")))
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    gaps = (seq.withColumn("g", F.col("s") - F.lag("s").over(w))
            .filter(F.col("g").isNotNull()))
    # power sums ride DECIMAL(38,0): n*Sum(g^2)*1e6 tops bigint once a
    # user's gaps span months (DuckDB side uses HUGEINT for the same
    # reason); the final fixed-point quotient is bigint-sized again
    agg = (gaps.groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
                F.sum("g").cast("decimal(38,0)").alias("sum_g"),
                F.sum(F.col("g") * F.col("g")).cast("decimal(38,0)")
                .alias("sum_g2")))
    scored = (
        agg.filter((F.col("n_gaps") >= 2) & (F.col("sum_g") > 0))
        .select(
            "user_id", "n_gaps",
            F.expr("(sum_g * 1000000) DIV n_gaps").cast("bigint")
            .alias("mean_gap_fp"),
            F.expr("((n_gaps * sum_g2 - sum_g * sum_g) * 1000000)"
                   " DIV (sum_g * sum_g)").cast("bigint")
            .alias("cv2_fp")))
    return (
        scored.withColumn(
            "regime",
            F.expr("CASE WHEN cv2_fp > 2000000 THEN 'bursty' "
                   "WHEN cv2_fp < 500000 THEN 'periodic' "
                   "ELSE 'poissonish' END"))
        .repartition(1).sortWithinPartitions("user_id")
    )


# ---------------------------------------------------------------------------
# Per-user event-type Gini diversity — account-takeover shape signal.
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH per AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id, event_type
),
agg AS (
  SELECT user_id,
         CAST(SUM(c) AS HUGEINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c * c) AS HUGEINT) AS sum_c2
  FROM per GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events, n_types,
       CAST(1000000 - (sum_c2 * 1000000) // (n_events * n_events)
            AS BIGINT) AS gini_fp
FROM agg
ORDER BY user_id
"""


@query("event_gini_diversity", oracle=_GINI_ORACLE,
       doc="Gini impurity of each user's event-type mix (1 - sum p_i^2) "
           "in exact fixed point — the entropy-style diversity signal "
           "without the float log entropy needs (ln() is not guaranteed "
           "bit-identical across engines; Gini is pure integer "
           "arithmetic). Single-type accounts score 0 (scripted "
           "scrapers), evenly mixed activity approaches 1-1/k. Two "
           "partial-aggregated shuffles, both keyed by user.")
def event_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (_events(spark, sf_dir)
           .filter(F.col("user_id").isNotNull())
           .groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    # sum_c2 * 1e6 exceeds bigint once a user logs ~100k same-type
    # events, so the quotient rides DECIMAL(38,0) (HUGEINT in DuckDB)
    agg = (per.groupBy("user_id")
           .agg(F.sum("c").cast("decimal(38,0)").alias("n_events"),
                F.count(F.lit(1)).cast("bigint").alias("n_types"),
                F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)")
                .alias("sum_c2")))
    return (
        agg.select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            "n_types",
            F.expr("1000000 - (sum_c2 * 1000000) DIV (n_events * n_events)")
            .cast("bigint").alias("gini_fp"))
        .repartition(1).sortWithinPartitions("user_id")
    )


# ---------------------------------------------------------------------------
# Degree assortativity — does the doc graph wire hubs to hubs?
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = """
WITH n AS (SELECT COUNT(*) AS cnt FROM documents),
raw AS (
  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT cnt FROM n) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % (SELECT cnt FROM n) FROM documents
),
edges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
),
sym AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
pairs AS (
  SELECT da.d AS x, db.d AS y
  FROM sym s JOIN deg da ON da.node = s.u JOIN deg db ON db.node = s.v
),
sums AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(x * x) AS HUGEINT) AS sx2,
         CAST(SUM(x * y) AS HUGEINT) AS sxy
  FROM pairs
)
SELECT CAST(m AS BIGINT) AS m_endpoints,
       CAST(sx AS BIGINT) AS sum_deg,
       CAST(sx2 AS BIGINT) AS sum_deg2,
       CAST(sxy AS BIGINT) AS sum_degprod,
       CAST(CASE WHEN m * sxy - sx * sx >= 0
                 THEN ((m * sxy - sx * sx) * 1000000)
                      // (m * sx2 - sx * sx)
                 ELSE -(((sx * sx - m * sxy) * 1000000)
                        // (m * sx2 - sx * sx)) END AS BIGINT)
         AS assortativity_fp
FROM sums
"""


@query("degree_assortativity", oracle=_ASSORT_ORACLE,
       doc="Newman degree assortativity of the deterministic doc graph: "
           "Pearson correlation of endpoint degrees over the "
           "SYMMETRIZED edge list. Symmetrization makes the x and y "
           "marginals identical, so r = (M*Sxy - Sx^2)/(M*Sx2 - Sx^2) "
           "is a RATIO OF INTEGERS — the usual sqrt in Pearson's "
           "denominator cancels and the whole statistic lands in exact "
           "fixed point. Spark DIV and DuckDB // BOTH truncate toward "
           "zero on negatives (measured: -7 DIV 2 = -7 // 2 = -3, same "
           "semantics the Holt/CUPED/Theil-Sen signed quotients rely on "
           "directly); the explicit negative branch here is "
           "belt-and-suspenders that keeps every division operand "
           "non-negative, not a semantics repair. Social graphs are "
           "assortative, "
           "infrastructure graphs disassortative — a one-row "
           "fingerprint for synthetic-graph sanity. Two degree joins "
           "keyed by node + one scalar reduction; power sums ride "
           "HUGEINT/DECIMAL(38,0).")
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n = docs.count()  # driver scalar: node-space size for the modulus
    raw = docs.select(F.col("doc_id").alias("src"),
                      ((F.col("doc_id") * 2 + 1) % n).alias("dst")) \
        .unionByName(docs.select(F.col("doc_id").alias("src"),
                                 ((F.col("doc_id") * 3 + 7) % n).alias("dst")))
    edges = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")) \
        .unionByName(edges.select(F.col("b").alias("u"),
                                  F.col("a").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")) \
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    pairs = (sym
             .join(deg.select(F.col("node").alias("u"),
                              F.col("d").alias("x")), "u")
             .join(deg.select(F.col("node").alias("v"),
                              F.col("d").alias("y")), "v"))
    sums = pairs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sx2"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"))
    return sums.select(
        F.col("m").cast("bigint").alias("m_endpoints"),
        F.col("sx").cast("bigint").alias("sum_deg"),
        F.col("sx2").cast("bigint").alias("sum_deg2"),
        F.col("sxy").cast("bigint").alias("sum_degprod"),
        F.expr("CASE WHEN m * sxy - sx * sx >= 0 "
               "THEN ((m * sxy - sx * sx) * 1000000) "
               "DIV (m * sx2 - sx * sx) "
               "ELSE -(((sx * sx - m * sxy) * 1000000) "
               "DIV (m * sx2 - sx * sx)) END")
        .cast("bigint").alias("assortativity_fp"))


# ---------------------------------------------------------------------------
# Holt linear-trend control chart — the trend-aware sibling of EWMA.
# ---------------------------------------------------------------------------

# NOTE on signed division: unlike the EWMA fold (non-negative by
# construction, shiftright ok), Holt's trend term is SIGNED. Spark's DIV
# and DuckDB's // BOTH truncate toward zero on negatives (verified), so
# the fold uses them symmetrically and never a shift (>> floors).

_HOLT_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS h
  FROM events
),
bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
spine AS (
  SELECT t.event_type, CAST(s.h AS BIGINT) AS h,
         row_number() OVER (PARTITION BY t.event_type
                            ORDER BY s.h) AS rn
  FROM (SELECT DISTINCT event_type FROM ev) t,
       (SELECT UNNEST(range((SELECT lo FROM bounds),
                            (SELECT hi FROM bounds) + 1)) AS h) s
),
cnts AS (
  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS x
  FROM ev GROUP BY event_type, h
),
xs AS (
  SELECT sp.event_type, sp.h, sp.rn, COALESCE(c.x, 0) AS x
  FROM spine sp LEFT JOIN cnts c USING (event_type, h)
),
walk AS (
  SELECT event_type, h, rn, x,
         CAST(x * {_EWMA_SCALE} AS BIGINT) AS l_fp,
         CAST(0 AS BIGINT) AS b_fp,
         CAST(0 AS BIGINT) AS fc_fp,
         FALSE AS alerted
  FROM xs WHERE rn = 1
  UNION ALL
  SELECT xs.event_type, xs.h, xs.rn, xs.x,
         (xs.x * {_EWMA_SCALE}) // 4 + (3 * (w.l_fp + w.b_fp)) // 4,
         ((xs.x * {_EWMA_SCALE}) // 4 + (3 * (w.l_fp + w.b_fp)) // 4
          - w.l_fp) // 4 + (3 * w.b_fp) // 4,
         w.l_fp + w.b_fp,
         xs.x >= 5 AND abs(xs.x * {_EWMA_SCALE} - (w.l_fp + w.b_fp))
           > greatest(w.l_fp, 4 * {_EWMA_SCALE})
  FROM xs JOIN walk w
    ON xs.event_type = w.event_type AND xs.rn = w.rn + 1
)
SELECT event_type, h, x, fc_fp AS forecast_fp,
       CAST(x * {_EWMA_SCALE} - fc_fp AS BIGINT) AS residual_fp
FROM walk
WHERE alerted
ORDER BY event_type, h
"""


@query("holt_trend_residuals", oracle=_HOLT_ORACLE,
       doc="Holt double-exponential smoothing (level + linear trend, "
           "alpha=beta=1/4) over the zero-filled hourly spine per event "
           "type, flagging hours whose count misses the one-step "
           "forecast l+b by more than max(100% of level, 4 events) — "
           "the trend-aware sibling of ewma_control_chart that does NOT "
           "alert on steady growth the way a level-only chart does. "
           "Every step is fixed-point integer arithmetic; the trend is "
           "SIGNED, so the fold divides with Spark DIV / DuckDB // "
           "(both truncate toward zero — a shiftright would floor and "
           "diverge on negatives). Same scale shape as EWMA: one "
           "(type, hour) partial-agg shuffle, then a native F.aggregate "
           "fold over per-type hour arrays bounded by the time range, "
           "never the row count; nothing leaves the JVM.")
def holt_trend_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    S = _EWMA_SCALE
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 "
               "00:00:00', ts) DIV 1000000 DIV 3600").alias("h"))
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"))
    per_type = (
        hourly.groupBy("event_type")
        .agg(F.map_from_entries(F.collect_list(F.struct("h", "x")))
             .alias("m"))
        .crossJoin(F.broadcast(bounds))
    )

    # the whole fold is ONE SQL expression so the signed truncating DIV
    # is spelled identically to the oracle's // (shiftright would floor)
    x_ = "coalesce(element_at(m, h), CAST(0 AS BIGINT))"
    lp = f"({x_} * {S}) DIV 4 + (3 * (acc.l_fp + acc.b_fp)) DIV 4"
    fold = f"""
    aggregate(
      sequence(lo, hi),
      named_struct(
        'seeded', false,
        'l_fp', CAST(0 AS BIGINT),
        'b_fp', CAST(0 AS BIGINT),
        'hits', CAST(array() AS array<struct<h:bigint,x:bigint,
                     forecast_fp:bigint,residual_fp:bigint>>)),
      (acc, h) -> CASE WHEN NOT acc.seeded THEN named_struct(
          'seeded', true,
          'l_fp', CAST({x_} * {S} AS BIGINT),
          'b_fp', CAST(0 AS BIGINT),
          'hits', acc.hits)
        ELSE named_struct(
          'seeded', true,
          'l_fp', CAST({lp} AS BIGINT),
          'b_fp', CAST(({lp} - acc.l_fp) DIV 4 + (3 * acc.b_fp) DIV 4
                       AS BIGINT),
          'hits', CASE WHEN {x_} >= 5
                        AND abs({x_} * {S} - (acc.l_fp + acc.b_fp))
                            > greatest(acc.l_fp, CAST(4 * {S} AS BIGINT))
                   THEN concat(acc.hits, array(named_struct(
                        'h', CAST(h AS BIGINT),
                        'x', CAST({x_} AS BIGINT),
                        'forecast_fp', CAST(acc.l_fp + acc.b_fp AS BIGINT),
                        'residual_fp', CAST({x_} * {S}
                            - (acc.l_fp + acc.b_fp) AS BIGINT))))
                   ELSE acc.hits END)
        END
    ).hits
    """
    folded = per_type.select("event_type", F.expr(fold).alias("hits"))
    return (
        folded.select("event_type", F.explode("hits").alias("e"))
        .select("event_type", F.col("e.h").alias("h"),
                F.col("e.x").alias("x"),
                F.col("e.forecast_fp").alias("forecast_fp"),
                F.col("e.residual_fp").alias("residual_fp"))
        .repartition(1).sortWithinPartitions("event_type", "h")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend — median of pairwise slopes over the hourly series.
# ---------------------------------------------------------------------------

_THEILSEN_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, h
),
pairs AS (
  SELECT a.event_type,
         CAST(((b.x - a.x) * 1000000) // (b.h - a.h) AS BIGINT)
           AS slope_fp,
         a.h AS h1, b.h AS h2
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND a.h < b.h
),
ranked AS (
  SELECT event_type, slope_fp,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope_fp, h1, h2) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM pairs
)
SELECT event_type,
       CAST(cnt AS BIGINT) AS n_pairs,
       slope_fp AS median_slope_fp
FROM ranked
WHERE rn = (cnt + 1) // 2
ORDER BY event_type
"""


@query("theilsen_trend_slopes", oracle=_THEILSEN_ORACLE,
       doc="Theil-Sen robust trend estimator per event type: the MEDIAN "
           "of all pairwise slopes of the hourly count series — "
           "breakdown point ~29%, so a burst or outage hour cannot drag "
           "the trend the way least squares lets it (the robust "
           "complement to holt_trend_residuals' smoother). Slopes are "
           "exact fixed point ((x2-x1)*1e6 DIV (h2-h1), truncate "
           "parity on negatives); the lower median is picked by rank "
           "with a deterministic (slope, h1, h2) tie-break. Scale: the "
           "pair self-join is keyed by type and bounded by the TIME "
           "RANGE squared (a year of hours pairs to ~38M rows per "
           "type), never by corpus row count — the aggregation to "
           "hourly counts happens first, one partial-agg shuffle.")
def theilsen_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    hourly = (_events(spark, sf_dir)
              .select("event_type",
                      F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ "
                             "'1970-01-01 00:00:00', ts) DIV 1000000 "
                             "DIV 3600").alias("h"))
              .groupBy("event_type", "h")
              .agg(F.count(F.lit(1)).cast("bigint").alias("x")))
    a = hourly.select("event_type", F.col("h").alias("h1"),
                      F.col("x").alias("x1"))
    b = hourly.select("event_type", F.col("h").alias("h2"),
                      F.col("x").alias("x2"))
    pairs = (a.join(b, "event_type")
             .filter(F.col("h1") < F.col("h2"))
             .select("event_type", "h1", "h2",
                     F.expr("((x2 - x1) * 1000000) DIV (h2 - h1)")
                     .cast("bigint").alias("slope_fp")))
    w = W.partitionBy("event_type").orderBy("slope_fp", "h1", "h2")
    cw = W.partitionBy("event_type")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(cw))
        .filter(F.col("rn") == F.expr("(cnt + 1) DIV 2"))
        .select("event_type",
                F.col("cnt").cast("bigint").alias("n_pairs"),
                F.col("slope_fp").alias("median_slope_fp"))
        .repartition(1).sortWithinPartitions("event_type")
    )
