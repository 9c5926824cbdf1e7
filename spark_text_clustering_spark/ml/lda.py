"""LDA train / score — reference parity for ``LDAClustering.run``
(LDAClustering.scala:20-96) and ``LDALoader`` (LDALoader.scala:11-214),
rebuilt on ``pyspark.ml.clustering.LDA`` (DataFrame API over the same
EM/Online optimizers).

Key reference semantics preserved:
* trains on **TF-IDF weights, not counts** (M4 — non-standard for LDA,
  LDAClustering.scala:61 feeds the tfidf RDD; replicated as-is),
* k=5, maxIter=50, EM defaults α=11.0 (= 50/k + 1), β=1.1 from the ``-1``
  sentinels (Params.scala:1-11, confirmed in saved model metadata),
* checkpointInterval=10 to truncate EM lineage (C3, :54-57),
* describeTopics at 10 (train report) / 300 (scoring) (M6, :81-92).

Anti-patterns fixed (SURVEY §4.2): the per-book scoring loop with
``toLocal`` per iteration (LDALoader.scala:108) becomes ONE
``model.transform`` over all documents; the O(V) ``indexOf`` vocab remap
(:101) is gone because train and score share one fitted ``Vectorizer``.

Model dir (``save_model``): ``LdaModel_<lang>_<millis>/`` holds the trained
model as ``model.write()`` saves it (reference S5) and ``scoring/``, all
that scoring reads: ``scoring/model/`` (the local model, trained params
copied on) and ``scoring/vectorizer/`` (one row: the ``Vectorizer`` fields
and ``format_version``). Another version or no ``scoring/`` fails loudly.

Scale: EM-LDA's per-iteration cost is the GraphX-style doc↔term message
passing inside Spark ML — dominated by |corpus nonzeros|; Online LDA
(miniBatchFraction) is the 100 TB path since each iteration touches a
sample. Scoring is a pure map (broadcast topic matrix × per-doc sparse
vector).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from pyspark.ml.clustering import LDA, LocalLDAModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .vectorize import Vectorizer

DEFAULT_K = 5
DEFAULT_MAX_ITER = 50
DEFAULT_ALPHA = 11.0  # EM default (50/k)+1 for k=5 — Params.scala `-1` sentinel
DEFAULT_BETA = 1.1
# bump on any change to the scoring/ layout; older dirs then fail loudly
SCORING_FORMAT_VERSION = 1
_VECTORIZER_ROW = (
    "format_version int, vocabulary array<string>, idf array<double>, "
    "stopwords array<string>, lemmatize boolean"
)


def train_lda(
    corpus: DataFrame,
    features_col: str = "tfidf",
    k: int = DEFAULT_K,
    max_iter: int = DEFAULT_MAX_ITER,
    optimizer: str = "em",
    seed: int = 42,
    checkpoint_interval: int = 10,
    doc_concentration: float = -1.0,
    topic_concentration: float = -1.0,
    corpus_size: int | None = None,
):
    """M4: LDA fit on (floored) TF-IDF features.

    ``-1`` sentinels resolve to the EM defaults α=(50/k)+1, β=1.1 — the
    reference's Params.scala behavior (confirmed in its saved model
    metadata: docConcentration=[11,...], topicConcentration=1.1).

    For ``optimizer="online"`` the reference sets
    ``miniBatchFraction = 0.05 + 1.0/actualCorpusSize``
    (LDAClustering.scala:43-44, "be more robust on tiny datasets");
    replicated as ``subsamplingRate``. Pass ``corpus_size`` when the caller
    already counted the corpus (app.run_training does) to avoid a second
    count job; otherwise it is counted here. Capped at 1.0 for 1-doc corpora.
    """
    alpha = (50.0 / k) + 1.0 if doc_concentration == -1.0 else doc_concentration
    beta = DEFAULT_BETA if topic_concentration == -1.0 else topic_concentration
    lda = LDA(
        k=k,
        maxIter=max_iter,
        optimizer=optimizer,
        seed=seed,
        checkpointInterval=checkpoint_interval,
        featuresCol=features_col,
        topicDistributionCol="topicDistribution",
        docConcentration=[alpha],
        topicConcentration=beta,
    )
    if optimizer == "online":
        n = corpus_size if corpus_size is not None else corpus.count()
        lda.setSubsamplingRate(min(1.0, 0.05 + 1.0 / max(n, 1)))
    return lda.fit(corpus)


def describe_topics_with_terms(model, vocabulary: list[str], max_terms: int = 10) -> DataFrame:
    """M6: describeTopics' k × ``max_terms`` term ids mapped through the
    vocabulary list (the reference's driver-side ``vocabArray(idx)``,
    LDAClustering.scala:81-92). Both sides are model-sized."""
    topics = model.describeTopics(max_terms)
    rows = topics.select("topic", "termIndices").collect()
    terms = pd.DataFrame({
        "topic": [r["topic"] for r in rows],
        "terms": [[vocabulary[i] for i in r["termIndices"]] for r in rows],
    })
    # A pandas frame goes through Arrow; Python tuples would start a Python worker job.
    return topics.sparkSession.createDataFrame(terms, "topic int, terms array<string>")


def scoring_model(model) -> LocalLDAModel:
    """The model every scorer runs: ``toLocal()`` with the trained params
    copied on. A ``DistributedLDAModel``'s transform re-seeds its
    inference on every call; the local model's is seeded by its ``seed``
    param, so the same document scores the same on every call. The Python
    wrapper ``toLocal()`` returns carries default params (k=10, a random
    seed), which its save and transform would use over the trained ones."""
    local = model.toLocal() if model.isDistributed() else model
    model._copyValues(local)
    return local


def score_documents(model, corpus: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Batch scoring: one ``model.transform`` over every document
    (replaces LDALoader's per-book loop, :80-169). Returns per-doc topic
    distribution + argmax main topic (T5; first-index tie rule, 0-based)."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(corpus)
    dist = vector_to_array(F.col("topicDistribution"))
    return scored.select(
        id_col,
        dist.alias("topic_dist"),
        (F.array_position(dist, F.array_max(dist)) - 1).cast("int").alias("main_topic"),
    )


def topic_report(scored: DataFrame, doc_name_col: str = "doc_id") -> DataFrame:
    """A5/S7: books-per-topic aggregate — the reference's driver-side
    mutable counter arrays (LDALoader.scala:76-77, 142-149) as a real
    groupBy; write with ``df.write.json`` for the structured report."""
    return (
        scored.groupBy("main_topic")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(F.col(doc_name_col).cast("string"))).alias("docs"),
        )
        .orderBy("main_topic")
    )


# ---------------------------------------------------------------------------
# Model persistence — reference S4/S5/S6 (timestamped dirs, newest wins)
# ---------------------------------------------------------------------------


def save_model(model, vectorizer: Vectorizer, base_dir: str, lang: str = "EN") -> str:
    """S5: ``LdaModel_<lang>_<millis>`` timestamped save
    (LDAClustering.scala:70-72), plus the ``scoring/`` artifact."""
    path = os.path.join(base_dir, f"LdaModel_{lang}_{int(time.time() * 1000)}")
    model.write().overwrite().save(path)
    scoring_model(model).write().save(os.path.join(path, "scoring", "model"))
    v = vectorizer
    row = pd.DataFrame({
        "format_version": [SCORING_FORMAT_VERSION], "vocabulary": [v.vocabulary],
        "idf": [v.idf], "stopwords": [v.stopwords], "lemmatize": [v.lemmatize],
    })
    # A pandas frame goes through Arrow; Python tuples would start a Python worker job.
    frame = SparkSession.active().createDataFrame(row, _VECTORIZER_ROW)
    frame.write.parquet(os.path.join(path, "scoring", "vectorizer"))
    return path


def load_newest_model(base_dir: str, lang: str = "EN") -> tuple[str, LocalLDAModel, Vectorizer]:
    """S4/S6: the newest ``LdaModel_<lang>_*`` dir by name sort
    (LDALoader.scala:25-37) and its ``scoring/`` artifact, as
    ``(path, local_model, vectorizer)`` — both from one dir."""
    prefix = f"LdaModel_{lang}_"
    candidates = sorted(d for d in os.listdir(base_dir) if d.startswith(prefix))
    if not candidates:
        raise FileNotFoundError(f"no {prefix}* model under {base_dir}")
    path = os.path.join(base_dir, candidates[-1])
    scoring = os.path.join(path, "scoring")
    if not os.path.isdir(scoring):
        raise ValueError(f"model dir {path} has no scoring/ artifact; retrain it")
    reader = SparkSession.active().read.schema(_VECTORIZER_ROW)
    row = reader.parquet(os.path.join(scoring, "vectorizer")).first()
    version = row["format_version"] if row else None
    if version != SCORING_FORMAT_VERSION:
        raise ValueError(f"model dir {path} has scoring format {version}, not "
                         f"{SCORING_FORMAT_VERSION}; retrain it")
    vectorizer = Vectorizer(
        row["vocabulary"], np.asarray(row["idf"]), row["stopwords"], row["lemmatize"]
    )
    return path, LocalLDAModel.load(os.path.join(scoring, "model")), vectorizer
