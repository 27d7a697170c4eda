"""Table reader and token fragments every entry family shares."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def lake_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The lake table ``<sf_dir>/<name>.parquet`` as a lazy DataFrame."""
    # session-scoped memo of the lazy plan handle: a bench pass
    # constructs each entry 3x over 1-5 tables, and every fresh
    # spark.read.parquet re-runs listing + footer schema inference
    # (~0.2 s driver-side) on ten immutable fixture files.
    # See sources/parquet.read_parquet_memo for the safety contract.
    from pgferry_spark.sources.parquet import read_parquet_memo

    return read_parquet_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))


# Guarded tokenizations mirroring functions.text.tokens(): blank text is an
# EMPTY list (DuckDB's regexp_split_to_array would give [''] of length 1)
_TOKS = (
    "(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END)"
)


_LTOKS = (
    "(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END)"
)

# functions.text.quality_score in SQL, before its terminal ROUND(.., 4):
# 0.4 length, 0.3 mean-token-length band, 0.3 punctuation density
_QUALITY = f"""0.4 * least(len({_TOKS}) / 100.0, 1.0)
                   + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                      / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                   + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                               / greatest(length(text), 1)), 1.0))"""
