"""End-to-end plans (entry point 1 of the reference, TfidfMapReduce.java:36-100).

The reference's whole ``main`` — 4 chained jobs + 3 HDFS round-trips —
collapses into one lazy DataFrame here (SURVEY.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.tfidf import corpus_core, tfidf_sorted


def flagship_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over the fixture ``documents`` table, globally sorted desc.

    Output schema matches the reference's final ``SortedTFIDF`` relation
    (word, doc, tfidf) (SortByValue.java:93) with deterministic tiebreaks.
    """
    scored = corpus_core(spark, sf_dir).scored
    return tfidf_sorted(scored).select("word", "doc", "tfidf")
