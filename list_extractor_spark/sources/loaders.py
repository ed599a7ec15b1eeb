"""Parquet table loaders for the driver testdata layout (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_documents_jsonl(
    spark: SparkSession,
    path: str,
    text_field: str = "text",
    id_field: str = "id",
    lang_field: str | None = "lang",
    default_lang: str = "en",
) -> DataFrame:
    """JSONL corpus loader — the lingua franca of LLM training dumps (one
    JSON object per line: {"id": ..., "text": ..., ...}) normalized to the
    flat documents contract (doc_id string, text string, lang string) every
    tda/ operator consumes.

    Scale notes: spark.read.json over .jsonl/.jsonl.gz splits per file (gzip
    is non-splittable — shard big dumps); an explicit schema is derived from
    the requested fields so Spark does NOT run its schema-inference pre-scan
    over the full corpus (at 100 TB that pre-scan is a second read of
    everything).  Rows with a missing/null text or id are dropped (malformed
    lines land in Spark's _corrupt_record and are discarded here)."""
    from pyspark.sql import functions as F, types as T

    fields = [
        T.StructField(id_field, T.StringType()),
        T.StructField(text_field, T.StringType()),
    ]
    if lang_field:
        fields.append(T.StructField(lang_field, T.StringType()))
    df = spark.read.schema(T.StructType(fields)).json(path)
    lang = (
        F.coalesce(F.col(lang_field), F.lit(default_lang))
        if lang_field
        else F.lit(default_lang)
    )
    return (
        df.filter(F.col(id_field).isNotNull() & F.col(text_field).isNotNull())
        .select(
            F.col(id_field).cast("string").alias("doc_id"),
            F.col(text_field).alias("text"),
            lang.alias("lang"),
        )
    )
