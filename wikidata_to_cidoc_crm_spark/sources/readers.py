"""Input readers (SURVEY.md §2.1 scans/sources).

S1  CSV QID scan            — load_qids (authors.py:236-249 parity)
S5  triple-table scan       — read_triples (parquet/Iceberg stage tables)
S6  Turtle sink             — sources.ttl.write_ttl (test-scale)
S7  dbpedia regex post-pass — a CASE in align_stage's final select
                              (map_and_align.py:996-1004); no file rewriting
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_qids(spark: SparkSession, path: str) -> DataFrame:
    """1-column CSV of QIDs; keep rows starting with 'Q' (the reference skips
    the header implicitly the same way, authors.py:247-248)."""
    raw = spark.read.option("header", "false").csv(path)
    return (
        raw.select(F.trim(F.col("_c0")).alias("qid"))
        .filter(F.col("qid").rlike("^Q[0-9]+$"))
        .distinct()
    )


def read_triples(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    if "subj_bucket" in df.columns:
        df = df.drop("subj_bucket")
    return df
