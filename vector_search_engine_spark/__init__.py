"""vector_search_engine_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of sdsasf/vector_search_engine.

The reference (C++ HNSW ANN engine, see SURVEY.md) exposes one logical table
``(id, float32[dim] vector)`` and two operations: k-NN search under squared
L2 and insert.  This package re-expresses that surface — plus the
LLM-data-pipeline operators a 100 TB training corpus needs — as idiomatic
PySpark: DataFrame/SQL plans Catalyst can optimize, Arrow-batched pandas
UDFs only where built-ins can't express the semantics.

Layout:
    functions/   scalar/array kernels (l2_sq, cosine, text n-grams…)
    operators/   knn, ivf index, dedup, text analysis, relational, events
    sources/     fvecs/ivecs ingestion (reference utils.h format)
    streaming/   delta ingest + compaction (reference engine.h LSM analog)
    multimodal/  opaque binary columns + metadata plumbing
"""

__version__ = "0.1.0"

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark, sf_dir: str, name: str):
    """Load one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` has drifted across driver generations between physical
    parquet types; normalize every variant to a session-tz TIMESTAMP here —
    the single choke point — so downstream event-time code can rely on
    ordinary ``timestamp`` semantics (castable to long/double, unifiable
    with ``timestamp`` struct fields):

    * TIMESTAMP(NANOS): Spark's reader rejects it outright; read as long
      nanos (legacy conf) and truncate to micros — the same ns→us
      truncation DuckDB applies, so values hash-match the oracle.
    * timestamp[us] without timezone: Spark reads it as TIMESTAMP_NTZ,
      which cannot be cast to numeric types; cast to TIMESTAMP. The
      NTZ→LTZ cast interprets the wall-clock in the session timezone and
      display converts back with the same timezone, so wall-clock values
      (and oracle hashes) are preserved.

    The NANOS read needs the session-global
    ``spark.sql.legacy.parquet.nanosAsLong=true``.  Invariant: it is set
    only when the session holds another value, so once a session has it,
    ``events`` reads never write the conf again — no conf churn under
    concurrent queries on a shared session.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    from pyspark.sql import functions as F

    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(nanos, "false") != "true":
        spark.conf.set(nanos, "true")
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
