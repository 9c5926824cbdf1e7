"""Application entry points — reference parity for the two mains.

* ``run_training`` ⇔ ``LDATraining`` + ``LDAClustering.run``
  (LDATraining.scala:5-21, LDAClustering.scala:20-96): corpus → clean →
  tokenize → stopword-filter → deterministic vocab → TF-IDF (floored) →
  EM/Online LDA → save model → topic summary.
* ``run_scoring`` ⇔ ``LDALoader`` (LDALoader.scala:11-214): load the newest
  model dir's scoring artifact (``ml.lda`` docstring) → featurize with the
  saved vectorizer → score ALL documents in one ``model.transform`` pass (the
  reference loops per book, collapsing the distributed model to the driver
  every iteration — SURVEY §4.2 anti-patterns (a)-(c), all fixed here) →
  argmax main topic → books-per-topic report → JSON report sink.

``Params`` mirrors Params.scala:1-11 (same defaults, including the ``-1``
sentinels resolved to α=11.0 / β=1.1 by the EM optimizer).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.textnorm import STOPWORDS
from .ml.lda import (
    describe_topics_with_terms,
    load_newest_model,
    save_model,
    score_documents,
    topic_report,
    train_lda,
)
from .ml.vectorize import featurize, vectorize
from .sources.text_corpus import read_text_corpus


@dataclass
class Params:
    """Hyperparameters — Params.scala:1-11. ``doc_concentration`` /
    ``topic_concentration`` of -1 mean "optimizer default" (EM: (50/k)+1 and
    1.1), exactly the reference's sentinel behavior."""

    k: int = 5
    max_iterations: int = 50
    doc_concentration: float = -1.0
    topic_concentration: float = -1.0
    vocab_size: int = 2_900_000
    stopword_file: str | None = None
    algorithm: str = "em"
    checkpoint_dir: str | None = None
    checkpoint_interval: int = 10
    stopwords: list[str] = field(default_factory=lambda: list(STOPWORDS))
    seed: int = 42
    lemmatize: bool = False  # P3 stage (rule lemmatizer stands in for CoreNLP)


def _corpus_from_path(spark: SparkSession, corpus_path: str) -> DataFrame:
    """Accept either a directory of text files (reference layout,
    ``books/<Language>/*.txt``) or a parquet documents table."""
    if corpus_path.endswith(".parquet"):
        df = spark.read.parquet(corpus_path)
        if "doc_id" not in df.columns:
            raise ValueError("parquet corpus must have a doc_id column")
        return df.select("doc_id", "text")
    from pyspark.sql import Window

    corpus = read_text_corpus(spark, corpus_path)
    return corpus.withColumn(
        "doc_id", F.row_number().over(Window.orderBy("path")).cast("long") - 1
    ).select("doc_id", "text")


# EM LDA's GraphX iterations schedule one task wave per corpus partition
# per iteration, so the partition GRAIN — not just the count — sets the
# fixed per-iteration cost. A docs-per-partition rule alone breaks on
# few-heavy-docs corpora (51 whole books → 1 partition → zero
# parallelism); a bytes target generalizes both regimes (round 14,
# VERDICT r13 #5): ~1.5 MB of raw text per partition reproduces both the
# probed sweet spots — 51 books × ~0.5 MB → ~16-19 partitions (probe:
# parts ∈ {1,4,8,16,32} → {1.44, 1.48, 1.30, 1.11, 1.28} s/iter,
# COVERAGE round-7 table) and many-small-docs corpora → capped at the
# core count, matching the ~512-docs/partition rule bench.py uses.
_LDA_PART_BYTES = 1_500_000


def _lda_partition_count(spark: SparkSession, docs) -> int | None:
    """Data-driven LDA corpus partition count: ceil(text_bytes / 1.5 MB),
    clamped to [1, defaultParallelism]. Costs one column-pruned scan of
    the text column — negligible next to 50 EM iterations. Returns None
    (leave partitioning alone) if the corpus is empty."""
    row = docs.agg(F.sum(F.length("text")).alias("b")).first()
    total = row["b"] or 0
    if total <= 0:
        return None
    cpus = spark.sparkContext.defaultParallelism
    return max(1, min(cpus, -(-total // _LDA_PART_BYTES)))


def run_training(
    spark: SparkSession, corpus_path: str, model_dir: str, params: Params | None = None,
    lang: str = "EN",
) -> dict:
    """Train and persist; returns a summary dict (the reference prints its
    summary to stdout, LDAClustering.scala:29-33, 81-92)."""
    params = params or Params()
    if params.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(params.checkpoint_dir)
    elif params.algorithm == "em" and spark.sparkContext.getCheckpointDir() is None:
        # Deliberate divergence from the reference (LDAClustering.scala:
        # 55-57 sets the dir only when the flag is given): EM LDA's
        # checkpointInterval=10 is INERT without a checkpoint dir, and
        # the GraphX lineage then grows per iteration — measured 3x
        # per-iteration slowdown by iteration 50 on the reference's own
        # corpus (COVERAGE.md round-7). Default to a temp dir so the
        # configured interval actually truncates; pass checkpoint_dir to
        # control the location (durable storage on a real cluster).
        import tempfile

        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="lda_em_ckpt_")
        )

    docs = _corpus_from_path(spark, corpus_path)
    vectorized, vectorizer = vectorize(
        docs,
        vocab_size=params.vocab_size,
        stopwords=params.stopwords,
        min_doc_freq=2,
        lemmatize=params.lemmatize,
    )
    corpus = vectorized.select("doc_id", "tfidf")
    parts = _lda_partition_count(spark, docs)
    if parts is not None:
        corpus = corpus.repartition(parts)
    corpus = corpus.cache()
    corpus_size = corpus.count()  # forces the preprocessing chain (ref :24)

    lda_model = train_lda(
        corpus,
        k=params.k,
        max_iter=params.max_iterations,
        optimizer=params.algorithm,
        seed=params.seed,
        checkpoint_interval=params.checkpoint_interval,
        doc_concentration=params.doc_concentration,
        topic_concentration=params.topic_concentration,
        corpus_size=corpus_size,
    )
    model_path = save_model(lda_model, vectorizer, model_dir, lang=lang)

    topics = describe_topics_with_terms(lda_model, vectorizer.vocabulary, max_terms=10)
    summary = {
        "corpus_size": corpus_size,
        "vocab_size": len(vectorizer.vocabulary),
        "model_path": model_path,
        "topics": {r["topic"]: r["terms"] for r in topics.collect()},
    }
    if params.algorithm == "em":
        summary["log_likelihood_per_doc"] = lda_model.trainingLogLikelihood() / max(corpus_size, 1)
    corpus.unpersist()
    return summary


def run_scoring(
    spark: SparkSession, corpus_path: str, model_dir: str, report_path: str,
    lang: str = "EN",
) -> DataFrame:
    """Score every document in one batch pass and write the structured JSON
    report (reference S7 writes a text file via PrintWriter,
    LDALoader.scala:210-212)."""
    _, lda_model, vectorizer = load_newest_model(model_dir, lang=lang)
    docs = _corpus_from_path(spark, corpus_path)
    scored = score_documents(lda_model, featurize(docs, vectorizer).select("doc_id", "tfidf"))
    report = topic_report(scored)
    report.write.mode("overwrite").json(report_path)
    return scored


def main() -> None:  # pragma: no cover — CLI convenience
    import argparse

    from .session import get_session

    p = argparse.ArgumentParser(description="Train or score the LDA text-clustering pipeline")
    p.add_argument("mode", choices=["train", "score"])
    p.add_argument("--corpus", required=True)
    p.add_argument("--model-dir", required=True)
    p.add_argument("--report", default="/tmp/lda_report")
    p.add_argument("--k", type=int, default=5)
    p.add_argument("--max-iter", type=int, default=50)
    p.add_argument("--algorithm", choices=["em", "online"], default="em")
    args = p.parse_args()

    spark = get_session("spark-text-clustering")
    if args.mode == "train":
        params = Params(k=args.k, max_iterations=args.max_iter, algorithm=args.algorithm)
        print(json.dumps(run_training(spark, args.corpus, args.model_dir, params), default=str))
    else:
        scored = run_scoring(spark, args.corpus, args.model_dir, args.report)
        scored.show(20, truncate=False)


if __name__ == "__main__":  # pragma: no cover
    main()
