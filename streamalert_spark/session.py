"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same config block is what we would ship
for a multi-executor cluster (AQE on, adaptive coalesce/skew-join, Arrow for
the Pandas-UDF slow path). Partition counts scale with cluster size via
spark.sql.shuffle.partitions — at 100 TB on ~1000 executors this should be
set to 2-3x total cores by the deployment, not hard-coded here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-planning — coalesces small shuffle partitions, converts
    # sort-merge to broadcast when a side turns out small, splits skewed
    # partitions. Essential at 100 TB where static estimates are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any Pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps across engines (the DuckDB oracle runs UTC).
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: keep default 128MB split; explicit so it is documented.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Split small inputs across all cores: a sub-128MB file is otherwise ONE
    # task, serializing the whole parse pipeline. At 100 TB every scan has
    # far more splits than cores, so a minimum of defaultParallelism is free.
    "spark.sql.files.minPartitionNum": str(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))),
    "spark.ui.enabled": "false",
    # No Python call-site capture per Column function: with it on, every
    # F.* call makes extra py4j round trips, which is much of the driver's
    # cost of building a micro-batch plan. Error messages then omit the
    # Python call site.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Long-lived sessions compile one codegen class per plan fragment; the
    # JVM's default 240MB code cache fills after ~100 distinct plans, JIT
    # compilation silently stops, and compute-heavy stages degrade 10-20x.
    # Reserve headroom and let the sweeper evict cold compiled code.
    "spark.driver.extraJavaOptions":
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
}


def get_spark(
    app_name: str = "streamalert_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine SparkSession, or return the active one untouched.

    ``master``/``shuffle_partitions`` default from $SPARK_GRAFT_CPUS so the
    benchmark harness sets parallelism without code changes. They and every
    other option apply only when this call creates the session: applied to
    an existing one, they would rewrite its runtime confs under its users.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _local_row_groups(path: str) -> tuple[int, int] | None:
    """(row-group count, row count) of a LOCAL parquet file from its
    footer (None when not inspectable — e.g. an object-store path on a
    real cluster)."""
    if not os.path.isfile(path):
        return None
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        return meta.num_row_groups, meta.num_rows
    except Exception:  # noqa: BLE001 — inspection is best-effort
        return None


# Tables whose downstream operators do heavyweight PER-ROW work (text
# shingling/hash kernels over documents, 64-dim vector arithmetic over
# embeddings): full fan-out pays for itself at any row count. Tabular
# fact tables earn the rebalance by row volume instead (see read_table);
# dimension-scale tables skip it — a 32-task round-robin exchange of a
# 25-row nation table is pure scheduling overhead on every query that
# touches it, and those frames broadcast anyway.
_FANOUT_ALWAYS = frozenset({"documents", "embeddings"})
_REBALANCE_MIN_ROWS = int(os.environ.get("SPARK_GRAFT_REBALANCE_MIN_ROWS",
                                         "50000"))


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table, normalizing types.

    The events table carries TIMESTAMP(NANOS) which Spark 4 rejects by
    default; we read nanos as long (legacy conf, session-mutable) and
    convert with exact integer division to micros — double division would
    lose precision at ns-since-epoch magnitudes.

    Parquet can only parallelize a scan at row-group granularity: the
    driver's single-file tables carry ONE row group, so every downstream
    parse/projection would run as one task regardless of
    minPartitionNum (the empty splits get no rows). When a local file has
    fewer row groups than cores, rebalance once after the scan — a
    round-robin shuffle of megabytes that unlocks full-width execution.
    At 100 TB scans have thousands of row groups and this never fires.
    """
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        df = spark.read.parquet(path)
    cores = spark.sparkContext.defaultParallelism
    meta = _local_row_groups(path)
    if meta is not None:
        groups, rows = meta
        if groups < cores and (name in _FANOUT_ALWAYS
                               or rows >= _REBALANCE_MIN_ROWS):
            df = df.repartition(cores)
        elif rows < _REBALANCE_MIN_ROWS:
            # dimension-scale table: files.minPartitionNum still splits
            # the scan into ~cores byte ranges, but parquet can only
            # produce rows at row-group granularity, so all but
            # `groups` of those tasks are EMPTY — pure scheduling
            # overhead (~30-110 ms per action, measured). Merge the
            # splits back to the real row-group parallelism; coalesce
            # is a narrow op, no shuffle.
            df = df.coalesce(max(groups, 1))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load the driver's parquet tables and register them as temp views.

    Returns {name: DataFrame}. Views allow the SQL surface (scheduled
    queries, §2.6) to run unchanged against any scale factor directory.
    """
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def local_rows_df(spark: SparkSession, rows, schema: str):
    """Small driver-side fixture/sentinel frame, Arrow-backed.

    ``spark.createDataFrame(list, schema)`` builds a pickled-Python local
    relation that fans out to defaultParallelism tasks, each paying a
    Python-worker round trip — measured ~4.6 s to WRITE a 1-row frame at
    local[32] (and ~0.5 s per action even warm). Routing the same rows
    through a pandas DataFrame takes the Arrow path instead: a compact
    1-partition relation, ~0.1 s. Falls back to the list path for
    schemas/values Arrow can't convert (and for empty row lists, where
    the list path is already cheap).

    Use this for every driver-materialized frame that participates in a
    measured query; at cluster scale these frames are broadcast-sized
    fixtures, so the driver-side build cost IS their total cost.
    """
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        import pandas as pd
        from pyspark.sql.types import StructType

        names = [f.name for f in StructType.fromDDL(schema).fields]
        tuples = [tuple(r) for r in rows]
        pdf = pd.DataFrame(tuples, columns=names, dtype=object)
        # NaN-free object columns keep None as None through Arrow
        pdf = pdf.where(pd.notna(pdf), None)
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:  # noqa: BLE001 — conversion gaps fall back, never fail
        return spark.createDataFrame(rows, schema)
