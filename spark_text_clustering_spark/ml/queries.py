"""Rows-only query registrations for the ML pipeline (LDA is float-fragile
and EM-seeded — checked by plausibility tests, not value hashes; SURVEY
§5.2.3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._registry import Registry
from ..catalog import load_table
from .lda import (
    describe_topics_with_terms,
    score_documents,
    scoring_model,
    topic_report,
    train_lda,
)
from .vectorize import EmptyCorpusError, vectorize

REG = Registry()


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """Empty-in → empty-out degradation for ML fits (EmptyCorpusError)."""
    return spark.createDataFrame([], schema)

_QUERY_MAX_ITER = 10  # keep driver-run checks fast; parity tests use 50

# The driver runs all three ML queries in one process; memoize the shared
# vectorize/LDA work per (session, sf_dir) so it fits one fit instead of
# three. Cached DataFrames are session-bound, hence the session key.
_memo: dict[tuple[int, str, str], object] = {}


def _vectorized(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir, "vec")
    if key not in _memo:
        docs = load_table(spark, sf_dir, "documents")
        df, model = vectorize(docs, vocab_size=10_000, min_doc_freq=2)
        _memo[key] = (df.cache(), model)
    return _memo[key]


def _trained_lda(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir, "lda")
    if key not in _memo:
        df, _model = _vectorized(spark, sf_dir)
        _memo[key] = train_lda(df.select("doc_id", "tfidf"), max_iter=_QUERY_MAX_ITER)
    return _memo[key]


def _scoring_lda(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir, "scoring")
    if key not in _memo:
        _memo[key] = scoring_model(_trained_lda(spark, sf_dir))
    return _memo[key]


@REG.register("tfidf_vectorize")  # rows-only: VectorUDT output, ML-pipeline check
def tfidf_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity vectorization (M1-M3): per-doc sparse summary of the
    floored TF-IDF vector. Values asserted in unit goldens; here rows-only."""
    from pyspark.ml.functions import vector_to_array

    try:
        df, _model = _vectorized(spark, sf_dir)
    except EmptyCorpusError:
        return _empty(spark, "doc_id long, n_active long, tfidf_l1 double")
    arr = vector_to_array(F.col("tfidf"))
    nonzero = F.filter(arr, lambda x: x != 0.0)
    return df.select(
        "doc_id",
        F.size(nonzero).cast("long").alias("n_active"),
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 6).alias("tfidf_l1"),
    )


@REG.register("lda_topics")  # rows-only: seeded EM, distribution-level assertions in tests
def lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4+M6: train seeded EM-LDA on TF-IDF, describeTopics joined to
    terms. k rows, deterministic under the fixed seed. Term list serialized
    space-joined so the output schema stays atomic for external hashers."""
    try:
        _df, vectorizer = _vectorized(spark, sf_dir)
    except EmptyCorpusError:
        return _empty(spark, "topic int, terms string")
    lda_model = _trained_lda(spark, sf_dir)
    out = describe_topics_with_terms(lda_model, vectorizer.vocabulary, max_terms=10)
    return out.withColumn("terms", F.concat_ws(" ", "terms"))


@REG.register("lda_doc_report")  # rows-only: books-per-topic report shape
def lda_doc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7+A5+S7: batch scoring (one model.transform over all docs — the fix
    for the reference's per-book toLocal loop) → per-topic report."""
    try:
        df, _ = _vectorized(spark, sf_dir)
    except EmptyCorpusError:
        return _empty(spark, "main_topic int, n_docs long, docs string")
    scored = score_documents(_scoring_lda(spark, sf_dir), df.select("doc_id", "tfidf"))
    out = topic_report(scored)
    # comma-joined atomic doc list for external hashers
    return out.withColumn("docs", F.concat_ws(",", "docs"))
