"""What the text query packs share: the documents load and the DuckDB
twins of functions/text.py's tokenizer and word shingler.

A module of its own, registering no query, so that importing it never
changes the order in which the packs register.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from strava_data_pipeline_spark.operators.skew import spread_small_scan
from strava_data_pipeline_spark.sources.catalog import load_table

# DuckDB twin of text.tokens
DUCK_TOKENS = r"string_split_regex(lower(trim(text)), '\s+')"
# DuckDB twin of text.word_shingles over a token list ``t``
DUCK_SHINGLES = (
    r"list_distinct([array_to_string(t[i:i+2], ' ') "
    r"FOR i IN range(1, greatest(len(t) - 2, 0) + 1)])"
)


def load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents load with the single-split scan guard: the tokenize /
    shingle / regex stages the text queries run are CPU-bound per row,
    and a small corpus file arrives as ONE input split, serializing
    them on a single task (see skew.spread_small_scan — a no-op on a
    real cluster's multi-split scans). The dedup/similarity operators
    apply the same guard internally, so their registry entries load
    plainly."""
    return spread_small_scan(load_table(spark, sf_dir, "documents"))
