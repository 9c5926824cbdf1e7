"""Text vectorization — reference parity for ``TFIDfVectorizer``
(LDAClustering.scala:99-277).

``fit_vectorizer`` returns a ``Vectorizer``: the vocabulary list, the idf
array, the stopwords and the lemmatize flag, the whole fitted state.
``featurize`` runs the chain from that value, so training, scoring, search
and serving share one transform:

P2 regex clean (:283-284) → P3 lemmatize (:116-121; only with the
``lemmatize`` flag) → P5 whitespace tokenize (:133-135) → P6 exact,
case-sensitive stopword filter (:125-136) → P8 empty-doc drop (:139) → A4
counts (:154-167) over the T1/T2 vocabulary (:148-151; count desc, token
asc) → M2 IDF, minDocFreq=2, log((m+1)/(df+1)) (:177) → M3 TF×IDF with the
1e-4 floor (:180-192; non-standard, custom). The reference's P7 Porter
stem (:134-137) is not run (ROADMAP item 7).

Scale: every step is a narrow map except the vocabulary ranking (one
aggregation shuffle) and IDF.fit (one treeAggregate for document
frequencies). Each pass cleans, tokenizes and stopword-filters a document
once, as the reference does: P8 drops empty docs with a generator, not a
``Filter``, because Catalyst pushes a filter on ``tokens`` below the
projections that compute it and evaluates the whole chain again inside
the predicate (``_drop_empty``). The only driver-held state is the
vocab/idf arrays: model parameters bounded by vocabSize, not corpus size,
sent once per executor (the reference closure-captures its vocab map into
every task, J1).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.ml.feature import CountVectorizerModel, IDF, RegexTokenizer, StopWordsRemover
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textnorm import CLEAN_PATTERN, STOPWORDS


class EmptyCorpusError(ValueError):
    """Fitting was asked to run on a corpus with no surviving tokens.

    Raised instead of CountVectorizer's opaque "Vocabulary list cannot be
    empty" so callers (registered ML queries, search) can degrade to
    empty-in → empty-out, the behavior every relational operator in this
    engine already has."""

IDF_FLOOR = 1e-4  # reference M3: tfidf = tf * (idf == 0 ? 1e-4 : idf)


def clean_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """P2: punctuation strip + lowercase + whitespace collapse."""
    cleaned = F.regexp_replace(F.lower(F.col(text_col)), CLEAN_PATTERN, " ")
    return docs.withColumn("clean_text", F.trim(F.regexp_replace(cleaned, r"\s+", " ")))


def lemmatize_documents(docs: DataFrame, text_col: str = "clean_text") -> DataFrame:
    """P3: rule-lemmatize the cleaned text (reference applies CoreNLP
    lemmatization before tokenization in the training main path,
    LDAClustering.scala:116-121). mapInPandas with one RuleLemmatizer per
    batch (the per-partition heavy-object pattern); rejoins lemmas into a
    space-separated string so the downstream tokenizer stages are unchanged.
    """
    def batches(it):
        from ..functions.lemmatize import RuleLemmatizer

        lem = RuleLemmatizer()
        for pdf in it:
            out = pdf.copy()
            out[text_col] = pdf[text_col].map(
                lambda s: " ".join(
                    m for m in (lem.lemma(t) for t in s.split(" ")) if m
                )
            )
            yield out

    return docs.mapInPandas(batches, schema=docs.schema)


@dataclass(frozen=True, eq=False)
class Vectorizer:
    """A fitted vectorizer: the whole state ``featurize`` needs. Every
    field is vocabulary- or parameter-sized, never corpus-sized."""

    vocabulary: list[str]  # term id -> term (T2 dense ids)
    idf: np.ndarray  # M2 idf per term id, before the M3 floor
    stopwords: list[str]  # P6
    lemmatize: bool  # P3


def _tokenize(cleaned: DataFrame, stopwords: list[str]) -> DataFrame:
    """P5 whitespace tokenize + P6 stopword filter (case-sensitive, exact
    match) of ``clean_text`` into ``tokens``."""
    tokenizer = RegexTokenizer(
        inputCol="clean_text", outputCol="raw_tokens", pattern=r"\s+", toLowercase=True
    )
    remover = StopWordsRemover(
        inputCol="raw_tokens", outputCol="tokens", stopWords=list(stopwords), caseSensitive=True
    )
    return remover.transform(tokenizer.transform(cleaned))


def build_deterministic_vocab(tokens_df: DataFrame, vocab_size: int) -> list[str]:
    """T1/T2 with the deterministic tiebreak: rank tokens by (count DESC,
    token ASC) and take the top ``vocab_size``.

    The reference's ``sortBy(_._2).take(k)`` (LDAClustering.scala:148-151)
    — and Spark's own CountVectorizer.fit — order frequency ties
    arbitrarily, making vocabulary ids nondeterministic across runs; the
    explicit lexicographic tiebreak fixes that (SURVEY §2.4 T1). The
    collect is vocab-sized model state (bounded by ``vocab_size``), not
    corpus-sized — the same driver footprint CountVectorizer.fit itself has.
    """
    counts = (
        tokens_df.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(vocab_size)
    )
    return [r["token"] for r in counts.collect()]


def _preprocess(docs: DataFrame, lemmatize: bool) -> DataFrame:
    # null text would fail the tokenizer UDF; empty clean text tokenizes to
    # [] and P8 drops it
    cleaned = clean_documents(docs.where(F.col("text").isNotNull()))
    return lemmatize_documents(cleaned) if lemmatize else cleaned


def _drop_empty(tokens: DataFrame) -> DataFrame:
    # a generator, not a Filter: Catalyst pushes a filter below the projections and re-runs them
    kept = F.explode(F.when(F.size("tokens") > 0, F.array(F.col("tokens"))))
    return tokens.withColumn("tokens", kept)


def _tokens(docs: DataFrame, lemmatize: bool, stopwords: list[str]) -> DataFrame:
    """P2 (+P3) → P5/P6 → P8 (LDAClustering.scala:139): docs with no
    surviving token are dropped before the vocab build and IDF fit, so
    document frequencies use the surviving corpus size m (the reference's
    idf is computed on the filtered corpus). Each step runs once per
    document per pass: P8 is a generator, because a ``Filter`` on
    ``tokens`` is pushed below the tokenizer and clean projections and
    evaluates them again inside its predicate."""
    return _drop_empty(_tokenize(_preprocess(docs, lemmatize), stopwords))


def _count_model(vocabulary: list[str]) -> CountVectorizerModel:
    """A4 counts over a fixed vocabulary. The list crosses to the JVM as
    one newline-joined string split there (tokens never hold whitespace):
    ``CountVectorizerModel.from_vocabulary`` sets the array one py4j call
    per term, 0.4 s of driver CPU at 10k terms."""
    from pyspark import SparkContext

    jvm = SparkContext._active_spark_context._jvm
    jvocab = jvm.java.util.regex.Pattern.compile("\n").split("\n".join(vocabulary))
    model = CountVectorizerModel._create_from_java_class(
        "org.apache.spark.ml.feature.CountVectorizerModel", jvocab
    )
    return model.setInputCol("tokens").setOutputCol("tf")


def fit_vectorizer(docs: DataFrame, **kwargs) -> Vectorizer:
    """Fit with a deterministic vocabulary: tokenize → rank vocab with the
    lexicographic tiebreak → count over that vocabulary → fit IDF on the
    counts."""
    vocab_size = kwargs.get("vocab_size", 10_000)
    stopwords = kwargs.get("stopwords")
    stopwords = list(STOPWORDS if stopwords is None else stopwords)
    min_doc_freq = kwargs.get("min_doc_freq", 2)
    lemmatize = kwargs.get("lemmatize", False)

    tokens = _tokens(docs, lemmatize, stopwords)
    vocab = build_deterministic_vocab(tokens, vocab_size)
    if not vocab:
        raise EmptyCorpusError(
            "no tokens survive preprocessing — cannot fit a vocabulary"
        )
    idf_model = IDF(inputCol="tf", minDocFreq=min_doc_freq).fit(
        _count_model(vocab).transform(tokens)
    )
    return Vectorizer(vocab, np.asarray(idf_model.idf.toArray()), stopwords, lemmatize)


def featurize(docs: DataFrame, vectorizer: Vectorizer) -> DataFrame:
    """The chain of the module docstring under a fitted vectorizer: adds
    ``clean_text``, ``raw_tokens``, ``tokens``, ``tf`` and ``tfidf``."""
    tokens = _tokens(docs, vectorizer.lemmatize, vectorizer.stopwords)
    return apply_idf_floor(_count_model(vectorizer.vocabulary).transform(tokens), vectorizer.idf)


def apply_idf_floor(df: DataFrame, idf_values: np.ndarray) -> DataFrame:
    """M3: hand-rolled TF×IDF floor — terms whose idf is 0 (df < minDocFreq)
    get weight tf × 1e-4 instead of 0, so rare-term signal never vanishes
    (LDAClustering.scala:180-192; non-standard, replicated as-is).

    ``ElementwiseProduct`` with the effective-idf vector as its scaling
    parameter is JVM-side (a Scala UDF in the codegen Project, no Python
    stage) and sparse-preserving: it multiplies a SparseVector's active
    values and keeps the index set, as the reference keeps SparseVector
    end to end (LDAClustering.scala:165,191). The scaling vector is a
    model parameter carried once per task closure, O(vocab) doubles (23 MB
    at the reference's 2.9 M vocab cap). One IEEE double multiply per
    active term; the test_ml goldens lock the values.
    """
    from pyspark.ml.feature import ElementwiseProduct
    from pyspark.ml.linalg import Vectors

    effective = np.where(idf_values == 0.0, IDF_FLOOR, idf_values)
    ep = ElementwiseProduct(
        scalingVec=Vectors.dense(effective),  # ndarray direct — no list copy
        inputCol="tf",
        outputCol="tfidf",
    )
    return ep.transform(df)


def vectorize(docs: DataFrame, **kwargs) -> tuple[DataFrame, Vectorizer]:
    """Full reference-parity vectorization: returns (df with tf/tfidf
    columns, fitted vectorizer)."""
    vectorizer = fit_vectorizer(docs, **kwargs)
    return featurize(docs, vectorizer), vectorizer
