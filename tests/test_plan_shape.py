"""Physical-plan regression tests: the perf-critical plan shapes from
SCALE.md, asserted on .explain output so they can't silently regress.

These are the properties that make the 100 TB story true — a green bench
at sf0.1 with a wrong plan shape (duplicated parse, shuffled broadcast
side, unpruned scan) would still be a scale bug.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_classifier_parses_once(spark):
    """The Generate barrier must keep exactly ONE from_csv in the plan;
    predicate re-inlining was a measured 20x regression."""
    from streamalert_spark.classify.classifier import Classifier
    from streamalert_spark.schema.registry import LogSchema, SchemaRegistry

    df = spark.createDataFrame([("1,x",), ("2,y",)], "payload string")
    reg = SchemaRegistry()
    reg.register(LogSchema(name="t:csv", schema={"a": "integer", "b": "string"}, parser="csv"))
    out = Classifier(reg).classify(df, raw_col="payload").by_log_type["t:csv"]
    plan = _plan(out.select(F.col("record.a")))
    assert plan.count("from_csv") == 1, plan


def test_rules_one_python_pass_no_union(spark):
    """Every rule of a log type evaluates in one fused pass: one
    MapInPandas for all Python bodies, no per-rule branch to union."""
    from streamalert_spark.rules.engine import RulesEngine
    from streamalert_spark.rules.registry import Rule, RuleRegistry

    reg = RuleRegistry()
    for i in range(3):
        reg.add(Rule(name=f"py{i}", process=lambda r, i=i: r["n"] > i, logs=["t:x"]))
    reg.add(Rule(name="dyn", expr=lambda rec: rec["n"] > 0, logs=["t:x"],
                 dynamic_outputs=[lambda r: "slack:x"]))
    reg.add(Rule(name="native", expr=lambda rec: rec["n"] > 1, logs=["t:x"]))
    df = spark.createDataFrame([((i,),) for i in range(4)], "record struct<n: bigint>")
    plan = _plan(RulesEngine(reg).run(df, log_type="t:x"))
    assert plan.count("MapInPandas") == 1, plan
    assert "Union" not in plan, plan


def test_threat_intel_is_broadcast_join(spark):
    from streamalert_spark.queries import load_all

    df = load_all()["threat_intel_hits"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lookup_enrich_is_broadcast_join(spark):
    from streamalert_spark.queries import load_all

    df = load_all()["lookup_enrich"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_column_pruning_reaches_scan(spark):
    """A 2-column aggregate over lineitem must not read the whole table."""
    from streamalert_spark.session import read_table

    li = read_table(spark, SF_DIR, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    plan = _plan(df)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "l_returnflag" in scan and "l_quantity" in scan
    assert "l_extendedprice" not in scan, scan


def test_filter_pushdown_reaches_scan(spark):
    from streamalert_spark.session import read_table

    orders = read_table(spark, SF_DIR, "orders")
    df = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    idx = plan.index("PushedFilters")
    assert "o_orderstatus" in plan[idx:idx + 200], plan[idx:idx + 200]


def test_text_stats_single_projection_no_shuffle(spark):
    """Text analysis is one scan pass: no key-based Exchange. (read_table
    may round-robin-rebalance a single-row-group local file — that is a
    local-mode convenience, not an operator shuffle; with a plain scan
    there is no Exchange at all.)"""
    from streamalert_spark.ops.text import text_stats
    from streamalert_spark.session import read_table

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(text_stats(docs))
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    plain = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert "Exchange" not in _plan(text_stats(plain)), _plan(text_stats(plain))


def test_simhash_kernel_no_shuffle(spark):
    """Doc-local Arrow kernels: only the initial round-robin repartition,
    no key-based Exchange (hashpartitioning) anywhere."""
    from streamalert_spark.ops.dedup import simhash_bits
    from streamalert_spark.session import read_table

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(simhash_bits(docs))
    assert "hashpartitioning" not in plan, plan


def test_kv_fold_single_tree(spark):
    """The KV parse is ONE aggregate fold; per-field extraction cloned it
    5x (interpreted HOFs get no codegen CSE — measured 6x slower)."""
    from streamalert_spark.classify.classifier import Classifier
    from streamalert_spark.schema.registry import LogSchema, SchemaRegistry

    df = spark.createDataFrame([("a=1 b=x",)], "payload string")
    reg = SchemaRegistry()
    reg.register(LogSchema(name="t:kv", schema={"a": "integer", "b": "string"}, parser="kv"))
    out = Classifier(reg).classify(df, raw_col="payload").by_log_type["t:kv"]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 1, plan


def test_strict_keyset_single_json_parse(spark):
    """Strict key-set validation is one sorted-array equality: exactly one
    json_object_keys per candidate schema, not three."""
    from streamalert_spark.classify.classifier import Classifier
    from streamalert_spark.schema.registry import LogSchema, SchemaRegistry

    df = spark.createDataFrame([('{"a": "1"}',)], "payload string")
    reg = SchemaRegistry()
    reg.register(LogSchema(name="t:j", schema={"a": "string"}))
    out = Classifier(reg).classify(df, raw_col="payload").by_log_type["t:j"]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("jsonobjectkeys") == 1, plan


def test_query_surface_has_no_global_sort(spark):
    """Sweep across the registry at sf0.001 (iterative queries execute
    their small driver loops while building — acceptable at this scale)
    asserting three anti-patterns never appear in any plan:
    - RangePartitioning: a global Sort double-executes the plan to sample
      partition boundaries; ordering belongs in one-partition local sorts;
    - BatchEvalPython: a row-at-a-time Python UDF in the hot path (only
      Arrow-batched forms are allowed: ArrowEvalPython, MapInPandas,
      FlatMapGroupsInPandas);
    - CartesianProduct: a shuffled nested-loop join (broadcast NLJ over
      1-row scalar frames is fine and planned differently).

    The default run sweeps a rotating ~1/6 cohort (driver-window budget:
    building all 242 plans costs ~3.5 min) plus every query that changed
    this round; SPARK_GRAFT_HEAVY=1 sweeps the whole registry in the
    per-round rotation."""
    from tests.conftest import rotating_cohort

    from streamalert_spark.queries import _CHANGED_THIS_ROUND, load_all

    registry = load_all()
    offenders = {"range_sort": [], "row_udf": [], "cartesian": []}
    names = set(rotating_cohort(sorted(registry), 6)) | (set(_CHANGED_THIS_ROUND) & set(registry))
    for name in sorted(names):
        rq = registry[name]
        plan = _plan(rq.fn(spark, SF_DIR))
        low = plan.lower()
        if "rangepartitioning" in low:
            offenders["range_sort"].append(name)
        if "batchevalpython" in low:
            offenders["row_udf"].append(name)
        if "cartesianproduct" in low:
            offenders["cartesian"].append(name)
    assert not any(offenders.values()), offenders


def test_batch_topk_broadcasts_probes_no_global_sort(spark):
    """Batch ANN: the probe set broadcasts, no SortMergeJoin, and no
    RangePartitioning (the top-k is a two-phase aggregate, not a global
    sort of the scored corpus)."""
    from streamalert_spark.ops.similarity import batch_cosine_topk
    from streamalert_spark.session import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = _plan(batch_cosine_topk(emb, [0, 1, 2], k=3))
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_decontamination_broadcasts_eval_shingles(spark):
    """The benchmark shingle set broadcasts; the corpus side never
    SortMergeJoins."""
    from streamalert_spark.ops.curation import ngram_overlap_flags
    from streamalert_spark.session import read_table

    docs = read_table(spark, SF_DIR, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    plan = _plan(ngram_overlap_flags(train, eval_df))
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q5_dimensions_all_broadcast(spark):
    """Q5 shape: nation/region/customer/supplier must broadcast — a
    SortMergeJoin on a dimension means the fact table shuffled for a
    metadata-scale side."""
    from streamalert_spark.queries import load_all

    plan = _plan(load_all()["q5_local_supplier_volume"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_tfidf_has_no_global_sort(spark):
    from streamalert_spark.queries import load_all

    plan = _plan(load_all()["tfidf_top_terms"].fn(spark, SF_DIR))
    assert "rangepartitioning" not in plan.lower(), plan


def test_pii_query_single_scan_no_shuffle_before_sort(spark):
    """The PII sweep is a pure projection: the only Exchange allowed is
    the final single-partition collect for deterministic output order."""
    from streamalert_spark.queries import load_all

    plan = _plan(load_all()["pii_detect_redact"].fn(spark, SF_DIR))
    assert "hashpartitioning" not in plan.lower(), plan


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bucketized range join must plan as a broadcast HASH join —
    a BroadcastNestedLoopJoin means the bucketing didn't take."""
    from streamalert_spark.queries import load_all

    plan = _plan(load_all()["range_join_windows"].fn(spark, SF_DIR))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_curation_pipeline_single_redact_chain(spark):
    """The e2e pipeline must evaluate the clean+redact chain ONCE behind
    its Generate barrier — projection collapse re-inlining it into every
    downstream expression was a measured 18x regression at sf0.1."""
    from streamalert_spark.queries import load_all

    plan = load_all()["curation_pipeline_e2e"].fn(spark, SF_DIR) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("<EMAIL>") == 1, plan.count("<EMAIL>")


def test_q6_all_predicates_push_to_scan(spark):
    """Q6 is the canonical pushdown query: every predicate must appear in
    PushedFilters and the plan must contain no join at all."""
    from streamalert_spark.queries import load_all

    plan = _plan(load_all()["q6_forecast_revenue"].fn(spark, SF_DIR))
    pushed = plan[plan.index("PushedFilters"):].splitlines()[0]
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pushed, pushed
    assert "Join" not in plan, plan


def test_q7_q8_dimensions_all_broadcast(spark):
    """The Q7/Q8 star joins must broadcast every dimension AT BENCH SCALE
    — the only SortMergeJoin candidates are fact-fact joins on orderkey.
    SF-scaling dims (customer/supplier/part) ride ``gated_broadcast``, so
    this pin holds only while the plan-time size estimate fits the budget;
    the gate's over-budget behavior is pinned separately below."""
    from streamalert_spark.queries import load_all

    for name in ["q7_volume_shipping", "q8_market_share"]:
        plan = _plan(load_all()[name].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        # lineitem-orders is the one allowed shuffle join
        assert plan.count("SortMergeJoin") <= 1, plan


def test_gated_broadcast_hints_small_skips_large(spark):
    """The gate must hint at bench scale and return the frame UNHINTED
    when the plan-time estimate exceeds the budget — a forced customer
    broadcast at 100 TB is an executor OOM and blocks AQE's fallback."""
    from streamalert_spark.ops.hints import gated_broadcast, plan_size_estimate
    from streamalert_spark.session import read_table

    cust = read_table(spark, SF_DIR, "customer")
    est = plan_size_estimate(cust)
    assert est is not None and est > 0
    assert gated_broadcast(cust) is not cust, "bench-scale dim must hint"
    assert gated_broadcast(cust, limit_bytes=est - 1) is cust, \
        "over-budget dim must come back unhinted"


def test_q7_identical_results_when_gate_forces_shuffle(spark, monkeypatch):
    """Shrinking the gate to 1 byte must flip the SF-scaling dims to
    shuffle joins WITHOUT changing the result — the gate is a physical
    hint, never semantics. This is the 100 TB execution path. Spark's own
    autoBroadcastJoinThreshold is disabled for the duration so the tiny
    bench-scale frames don't get auto-broadcast anyway (at 100 TB they
    exceed the threshold on their own)."""
    from streamalert_spark.ops import hints
    from streamalert_spark.queries import load_all

    fn = load_all()["q7_volume_shipping"].fn
    expected = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    monkeypatch.setattr(hints, "BROADCAST_SIZE_LIMIT", 1)
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        shuffled = fn(spark, SF_DIR)
        plan = _plan(shuffled)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert sorted(tuple(r) for r in shuffled.collect()) == expected
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_q11_q15_scalar_rides_broadcast_not_collect(spark):
    """Scalar total/max thresholds must join back as a 1-row broadcast
    (BroadcastNestedLoopJoin over the scalar), never via driver collect —
    the plan proves no eager evaluation happened at build time."""
    from streamalert_spark.queries import load_all

    for name in ["q11_important_parts", "q15_top_supplier"]:
        plan = _plan(load_all()[name].fn(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_bm25_filters_tokens_before_any_shuffle(spark):
    """BM25's (doc, term, tf) aggregate must see only query-term tokens:
    the isin filter sits below the first Exchange, so the shuffle carries
    O(matching docs x |Q|) rows, never the corpus vocabulary."""
    from streamalert_spark.queries import load_all

    df = load_all()["bm25_retrieval_scores"].fn(spark, SF_DIR)
    plan = _plan(df)
    # the isin filter must sit BELOW the first Exchange (map side)
    first_exchange = plan.index("Exchange")
    assert "IN (spark,merge,window)" in plan[first_exchange:], \
        "query-term filter not below the shuffle"
    # and it filters the exploded tokens directly above their Generate
    gen = plan.index("Generate explode")
    assert "IN (spark,merge,window)" in plan[max(0, gen - 400):gen + 400], \
        "token explode not gated by the query-term filter"


def test_profile_sketched_has_no_expand(spark):
    """The KMV profile exists to avoid the exact profile's multi-distinct
    Expand (map-stage rows x column count). Its plan must not contain
    Expand at all — the stack is a single Generate."""
    from streamalert_spark.queries import load_all

    plan = _plan(load_all()["table_profile_sketched"].fn(spark, SF_DIR))
    assert "Expand" not in plan, plan[:2000]


def test_ivm_stored_sides_not_shuffled_under_gate(spark):
    """Join IVM's reason to exist: each delta term joins a DELTA against
    a stored side with the delta broadcast, so the stored relations are
    scanned, never exchanged on the join key (bench scale: every side
    fits the gate, so NO shuffle join appears at all)."""
    from streamalert_spark.queries import load_all

    plan = _plan(load_all()["incremental_join_maintenance"].fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan


def test_hll_sum_is_integer_no_libm(spark):
    """The HLL estimate must stay libm-free: no POWER/LOG/EXP expressions
    anywhere in the plan — the harmonic denominator is shiftleft sums."""
    from streamalert_spark.queries import load_all

    plan = _plan(load_all()["hll_distinct_users"].fn(spark, SF_DIR)).lower()
    for fn in ("power(", "pow(", "log(", "ln(", "exp("):
        assert fn not in plan, fn
    assert "shiftleft" in plan


def _force_shuffle_collect(spark, monkeypatch, name):
    """Run query `name` twice — once normally, once with the broadcast
    gate shrunk to 1 byte and Spark's own auto-broadcast disabled — and
    return (normal_rows, forced_plan, forced_rows)."""
    from streamalert_spark.ops import hints
    from streamalert_spark.queries import load_all

    fn = load_all()[name].fn
    expected = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    monkeypatch.setattr(hints, "BROADCAST_SIZE_LIMIT", 1)
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        forced = fn(spark, SF_DIR)
        plan = _plan(forced)
        rows = sorted(tuple(r) for r in forced.collect())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    return expected, plan, rows


def test_scd2_point_in_time_gate_forces_shuffle_same_results(spark, monkeypatch):
    """The SCD2 history side must be size-gated: over the gate the join
    condition's key equality plans a sort-merge join on user_id with the
    interval predicate as post-filter — identical results, no forced
    multi-TB broadcast at 100 TB (the r6 verdict's one perf-weak plan)."""
    expected, plan, rows = _force_shuffle_collect(
        spark, monkeypatch, "scd2_point_in_time")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:3000]
    assert rows == expected


def test_threat_intel_gate_forces_shuffle_same_results(spark, monkeypatch):
    """An unbounded IOC feed (the reference's paginated ThreatStream
    downloader) must not ride a hard broadcast hint: over the gate the
    equi-join on ioc_value becomes a shuffle join, results unchanged."""
    expected, plan, rows = _force_shuffle_collect(
        spark, monkeypatch, "threat_intel_hits")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:3000]
    assert rows == expected


def test_lookup_enrich_gate_forces_shuffle_same_results(spark, monkeypatch):
    """Dynamo-like lookup tables have no size bound; the enrich join's
    hint is gated and the shuffle path returns identical rows."""
    expected, plan, rows = _force_shuffle_collect(
        spark, monkeypatch, "lookup_enrich")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:3000]
    assert rows == expected


def test_broadcast_limit_conf_respected(spark):
    """spark.streamalert.broadcastHintBytes overrides the module default
    in BOTH directions: a 1-byte conf fails the gate for a small frame;
    a huge conf passes it; unset falls back to BROADCAST_SIZE_LIMIT."""
    from streamalert_spark.ops import hints

    small = spark.range(10)
    conf_key = hints.BROADCAST_LIMIT_CONF
    saved = spark.conf.get(conf_key, None)
    try:
        spark.conf.set(conf_key, "1")
        gated = hints.gated_broadcast(small)
        assert "ResolvedHint" not in gated._jdf.queryExecution() \
            .analyzed().toString()
        spark.conf.set(conf_key, str(1 << 40))
        hinted = hints.gated_broadcast(small)
        assert "ResolvedHint" in hinted._jdf.queryExecution() \
            .analyzed().toString()
    finally:
        if saved is not None:
            spark.conf.set(conf_key, saved)
        else:
            spark.conf.unset(conf_key)
    # unset -> module default governs again
    assert "ResolvedHint" in hints.gated_broadcast(small)._jdf \
        .queryExecution().analyzed().toString()


def test_broadcast_limit_malformed_conf_raises(spark):
    """A SET but unparsable budget must raise, not silently fall back to
    the module default — misconfiguration has to be visible."""
    import pytest

    from streamalert_spark.ops import hints

    small = spark.range(10)
    conf_key = hints.BROADCAST_LIMIT_CONF
    saved = spark.conf.get(conf_key, None)
    try:
        spark.conf.set(conf_key, "256MB")
        with pytest.raises(ValueError, match="integer byte count"):
            hints.broadcast_limit(small)
        with pytest.raises(ValueError, match="integer byte count"):
            hints.gated_broadcast(small)
    finally:
        if saved is not None:
            spark.conf.set(conf_key, saved)
        else:
            spark.conf.unset(conf_key)


def test_interval_overlap_join_no_nested_loop(spark):
    """The grid-bucket overlap join must be a hash join on _bucket — a raw
    overlap predicate nested-loops, which is the plan this op exists to
    avoid. Also pin exactly-once pair claiming (no distinct pass)."""
    from streamalert_spark.queries import load_all

    df = load_all()["interval_overlap_agg"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_skew_diagnostics_topk_no_global_sort(spark):
    """Top-N keys must ride TakeOrderedAndProject, never a
    RangePartitioning global sort; the global totals attach by
    broadcast, never collect."""
    from streamalert_spark.queries import load_all

    df = load_all()["skew_key_diagnostics"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_quantized_topk_integer_dot_no_python(spark):
    """The SQ8 ANN ranking is JVM array arithmetic end to end — no
    BatchEvalPython, no ArrowEvalPython; final k via TakeOrdered."""
    from streamalert_spark.queries import load_all

    df = load_all()["embedding_quantize_topk"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_span_dedup_scrub_single_window_pass(spark):
    """First-occurrence span dedup is ONE row_number window keyed by the
    span digest (hash-partitioned) — no global sort, no second window."""
    from streamalert_spark.queries import load_all

    df = load_all()["span_dedup_scrub"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("row_number") <= 2, plan  # window def + projection ref
    assert "rangepartitioning" not in plan.lower(), plan
