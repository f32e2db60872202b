"""JSONL corpus source/sink — the de-facto interchange format for LLM
training corpora (one JSON document per line, gzip-sharded).

No reference analog (the reference reads only fvecs/ivecs, ``utils.h``);
this is north-star surface: a 100 TB corpus arrives as millions of
``*.jsonl.gz`` shards, and the engine must scan them in parallel with
schema enforcement rather than inference (an inference pass reads the
whole input twice and silently unifies drifting shard schemas).

Scale notes:
  * gzip shards are NOT splittable — one shard maps to one task, so shard
    size (set by the producer, typically 64-256 MB) is the parallelism
    unit; the reader just lists files.
  * ``mode="PERMISSIVE"`` + ``columnNameOfCorruptRecord`` quarantines
    malformed lines into a column instead of failing the job — at corpus
    scale there ARE malformed lines, and dropping them silently
    (DROPMALFORMED) loses accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def write_jsonl(
    df: DataFrame,
    out_dir: str,
    num_shards: int = 4,
    compression: str = "gzip",
) -> str:
    """Write a DataFrame as ``num_shards`` JSONL shards (gzip by default)."""
    df.repartition(num_shards).write.mode("overwrite").option(
        "compression", compression
    ).json(out_dir)
    return out_dir


def scan_jsonl(
    spark: SparkSession,
    path: str,
    schema: str = DOCUMENTS_SCHEMA,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Schema-enforced JSONL scan; malformed lines land in ``corrupt_col``
    (quarantine accounting) instead of failing or silently dropping."""
    return (
        spark.read.schema(f"{schema}, {corrupt_col} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
