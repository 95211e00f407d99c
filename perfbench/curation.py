"""The scheduled corpus-curation job that ``hunt_scheduled`` runs each tick.

A seeded corpus with a controlled share of exact and near duplicates is
written as ``documents.parquet`` in the run's own data directory. Each pass
runs the registered ``curation_pipeline_e2e`` query function over it. The
traced pass calls the ops layer (clean/redact, exact dedup, LSH candidates,
verified pairs, components) one call at a time and then both registered
queries, ``curation_pipeline_e2e`` and ``dedup_cascade_stages``. Every
result is checked against the query's registered oracle SQL, run in DuckDB
on the same file.
"""

from __future__ import annotations

import os
import time

from gen import corpus
from harness import Bench, Tracer

DOCS = 1_500
PASS_QUERY = "curation_pipeline_e2e"
TRACED_QUERIES = {"curation_pipeline_e2e": "ops.pipeline_query",
                  "dedup_cascade_stages": "ops.cascade_query"}


def _write_docs(data_dir: str, docs: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data_dir)
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(data_dir, "documents.parquet"))


class CurationJob:
    def __init__(self, bench: Bench):
        self.b = bench
        self.spark = bench.spark
        self.data = bench.path("corpus")

    def load(self) -> None:
        """The repeatable part of set-up: the query registry."""
        from streamalert_spark.queries import load_all

        registry = load_all()
        self.queries = {name: registry[name] for name in TRACED_QUERIES}

    def prepare(self) -> None:
        """Write the corpus and warm the pass query on a small one."""
        _write_docs(self.data, corpus(self.b.seed, DOCS))
        warm = self.b.path("corpus_warm")
        _write_docs(warm, corpus(self.b.seed + 1, 300))
        self.queries[PASS_QUERY].fn(self.spark, warm).collect()

    def one_pass(self) -> tuple[float, list[tuple]]:
        t0 = time.perf_counter()
        rows = [tuple(r) for r in self.queries[PASS_QUERY].fn(self.spark, self.data).collect()]
        return time.perf_counter() - t0, rows

    def oracle(self, names) -> dict[str, list[tuple]]:
        """The named queries' registered oracle SQL in DuckDB on the corpus."""
        import duckdb

        con = duckdb.connect()
        try:
            path = os.path.join(self.data, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            return {name: [tuple(r) for r in con.execute(self.queries[name].oracle).fetchall()]
                    for name in names}
        finally:
            con.close()

    def traced_pass(self, tracer: Tracer) -> dict[str, list[tuple]]:
        """The ops layer call by call, each output materialized before the
        next starts, then both registered queries."""
        from pyspark.sql import functions as F

        from streamalert_spark.ops import dedup, pii, text
        from streamalert_spark.session import read_table

        docs = read_table(self.spark, self.data, "documents")
        held = []

        def keep(df):
            df = df.cache()
            held.append(df)
            return df, df.count()

        rows = {}
        with tracer.span("curate.pass", "curate"):
            with tracer.span("ops.clean_redact", "curate"):
                keep(docs.select("doc_id", pii.redact(text.clean_text(F.col("text"))).alias("rtext")))
            with tracer.span("ops.exact_dedup", "curate"):
                survivors = dedup.exact_dedup(docs).select(F.col("canonical_doc_id").alias("doc_id"))
                s1, _ = keep(docs.join(survivors, "doc_id", "left_semi"))
            with tracer.span("ops.lsh_candidates", "curate"):
                tracer.add("ops.lsh_candidates", dedup.minhash_lsh_candidates(s1).count())
            with tracer.span("ops.lsh_pairs", "curate"):
                pairs, n = keep(dedup.lsh_verified_pairs(s1, threshold=0.5))
                tracer.add("ops.verified_pairs", n)
            with tracer.span("ops.components", "curate"):
                keep(dedup.connected_components(pairs))
            for name, stage in TRACED_QUERIES.items():
                with tracer.span(stage, "curate"):
                    rows[name] = [tuple(r) for r in
                                  self.queries[name].fn(self.spark, self.data).collect()]
        for df in held:
            df.unpersist()
        dedup.release_op_caches()
        return rows
