"""End-to-end reference-workflow parity: text-file corpus → train → save →
load newest → batch score → JSON report (the full LDATraining/LDALoader
lifecycle on a temp corpus)."""

import json
import os
import re
import shutil

import pytest

from spark_text_clustering_spark import app
from spark_text_clustering_spark.app import Params, run_scoring, run_training
from spark_text_clustering_spark.ml.lda import (
    _VECTORIZER_ROW,
    SCORING_FORMAT_VERSION,
    load_newest_model,
)
from spark_text_clustering_spark.sources.text_corpus import read_stopwords, read_text_corpus

from .conftest import SF_SMALL

BOOKS = {
    "cats.txt": "The cat sat on the mat. Cats purr! A cat ran; cats sleep.",
    "dogs.txt": "Dogs run fast, the dog barked. Dogs and dogs play fetch.",
    "db.txt": "Hash join scan table index query plan. Query table scan merge.",
    "empty_after_filter.txt": "the a an and",
}


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("books")
    for name, text in BOOKS.items():
        (d / name).write_text(text)
    return str(d)


def test_read_text_corpus_whole_files(spark, corpus_dir):
    df = read_text_corpus(spark, corpus_dir)
    rows = df.collect()
    assert len(rows) == len(BOOKS)  # one row per FILE, not per line
    by_name = {os.path.basename(r["path"]): r["text"] for r in rows}
    assert by_name["cats.txt"] == BOOKS["cats.txt"]


def test_read_stopwords_comma_joined(spark, tmp_path):
    p = tmp_path / "stopWords_EN.txt"
    p.write_text("the,a,an,and,or")  # reference format: one comma-joined line, no trailing newline
    assert read_stopwords(spark, str(p)) == ["the", "a", "an", "and", "or"]


def test_train_score_roundtrip(spark, corpus_dir, tmp_path_factory):
    model_dir = str(tmp_path_factory.mktemp("models"))
    report_dir = os.path.join(str(tmp_path_factory.mktemp("out")), "report")

    params = Params(k=2, max_iterations=10, vocab_size=1000)
    summary = run_training(spark, corpus_dir, model_dir, params)
    assert summary["corpus_size"] == 3  # all-stopword doc dropped (P8)
    assert summary["vocab_size"] > 0
    assert set(summary["topics"]) == {0, 1}
    assert "log_likelihood_per_doc" in summary
    assert os.path.isdir(summary["model_path"])

    scored = run_scoring(spark, corpus_dir, model_dir, report_dir)
    rows = scored.collect()
    assert len(rows) == 3
    assert all(0 <= r["main_topic"] < 2 for r in rows)

    # structured JSON report written and re-readable
    report = spark.read.json(report_dir)
    data = {r["main_topic"]: r["n_docs"] for r in report.collect()}
    assert sum(data.values()) == 3


def test_newest_model_wins(spark, corpus_dir, tmp_path_factory):
    """S4 semantics: two saved models -> scoring picks the newest by name."""
    model_dir = str(tmp_path_factory.mktemp("models2"))
    params = Params(k=2, max_iterations=5, vocab_size=1000)
    first = run_training(spark, corpus_dir, model_dir, params)
    second = run_training(spark, corpus_dir, model_dir, params)
    assert sorted(os.listdir(model_dir))[-1] == os.path.basename(second["model_path"])
    # one listing names the dir both the LDA model and the vectorizer come from
    path, _, _ = load_newest_model(model_dir)
    assert path == second["model_path"]


def _scores(spark, corpus_dir, model_dir, report_dir) -> dict:
    scored = run_scoring(spark, corpus_dir, model_dir, report_dir)
    return {r["doc_id"]: list(r["topic_dist"]) for r in scored.collect()}


def test_scoring_bit_identical_across_calls(spark, tmp_path_factory):
    """Each run_scoring call loads the model afresh; the saved local model
    carries the trained seed, so two calls agree bit for bit. (Scoring
    through the DistributedLDAModel re-seeded on every call: on these 500
    docs two calls differed by up to ~1e-5 per topic_dist entry.)"""
    corpus = os.path.join(SF_SMALL, "documents.parquet")
    model_dir = str(tmp_path_factory.mktemp("models_det"))
    out = str(tmp_path_factory.mktemp("out_det"))
    run_training(spark, corpus, model_dir, Params(k=2, max_iterations=10, vocab_size=1000))
    first = _scores(spark, corpus, model_dir, os.path.join(out, "r0"))
    second = _scores(spark, corpus, model_dir, os.path.join(out, "r1"))
    assert len(first) > 100
    assert first == second


def test_scoring_featurizes_like_training_with_lemmatize(
    spark, corpus_dir, tmp_path_factory, monkeypatch
):
    """A model trained with P3 lemmatization is scored on lemmas too: the
    tfidf run_scoring computes for the training corpus equals the tfidf
    run_training computed."""
    seen = {}
    vectorize, score_documents = app.vectorize, app.score_documents

    def tfidf_by_doc(df):
        return {r["doc_id"]: r["tfidf"] for r in df.select("doc_id", "tfidf").collect()}

    def capture_vectorize(*args, **kwargs):
        df, vectorizer = vectorize(*args, **kwargs)
        seen["train"] = tfidf_by_doc(df)
        return df, vectorizer

    def capture_score(model, corpus, *args, **kwargs):
        seen["score"] = tfidf_by_doc(corpus)
        return score_documents(model, corpus, *args, **kwargs)

    monkeypatch.setattr(app, "vectorize", capture_vectorize)
    monkeypatch.setattr(app, "score_documents", capture_score)
    model_dir = str(tmp_path_factory.mktemp("models_lemma_score"))
    report = os.path.join(str(tmp_path_factory.mktemp("out_lemma")), "report")
    params = Params(k=2, max_iterations=5, vocab_size=1000, lemmatize=True)
    app.run_training(spark, corpus_dir, model_dir, params)
    app.run_scoring(spark, corpus_dir, model_dir, report)
    assert seen["train"] and seen["score"] == seen["train"]


def _tree(path: str) -> list:
    return sorted(
        (os.path.relpath(os.path.join(d, f), path), os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, files in os.walk(path)
        for f in files
    )


@pytest.fixture(scope="module")
def trained_model(spark, corpus_dir, tmp_path_factory):
    """The newest model dir of one training run, to copy and then damage."""
    model_dir = str(tmp_path_factory.mktemp("models_src"))
    return run_training(
        spark, corpus_dir, model_dir, Params(k=2, max_iterations=5, vocab_size=1000)
    )["model_path"]


def _assert_scoring_rejects(spark, corpus_dir, base, model_path, report):
    before = _tree(base)
    with pytest.raises(ValueError, match=re.escape(f"model dir {model_path} ")):
        run_scoring(spark, corpus_dir, base, report)
    assert _tree(base) == before  # never upgraded in place
    assert not os.path.exists(report)


def test_scoring_rejects_dir_without_scoring_artifact(
    spark, corpus_dir, trained_model, tmp_path
):
    """The earlier layout (a DistributedLDAModel plus a fitted PipelineModel
    in vectorizer/) has no scoring/ artifact: scoring names the dir and
    fails rather than guessing."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.feature import RegexTokenizer

    base = str(tmp_path / "models")
    old = os.path.join(base, os.path.basename(trained_model))
    shutil.copytree(trained_model, old, ignore=shutil.ignore_patterns("scoring"))
    PipelineModel(stages=[RegexTokenizer(inputCol="clean_text", outputCol="raw_tokens")]) \
        .write().save(os.path.join(old, "vectorizer"))
    _assert_scoring_rejects(spark, corpus_dir, base, old, str(tmp_path / "report"))


def test_scoring_rejects_other_format_version(spark, corpus_dir, trained_model, tmp_path):
    base = str(tmp_path / "models")
    other = os.path.join(base, os.path.basename(trained_model))
    shutil.copytree(trained_model, other)
    row_dir = os.path.join(other, "scoring", "vectorizer")
    df = spark.read.parquet(row_dir)
    schema, row = df.schema, df.first().asDict()
    assert row["format_version"] == SCORING_FORMAT_VERSION
    row["format_version"] = SCORING_FORMAT_VERSION + 1
    shutil.rmtree(row_dir)
    spark.createDataFrame([tuple(row[f.name] for f in schema)], schema).write.parquet(row_dir)
    _assert_scoring_rejects(spark, corpus_dir, base, other, str(tmp_path / "report"))


def test_scoring_vectorizer_row_schema(spark, trained_model):
    """The saved vectorizer row is one row with the ``_VECTORIZER_ROW``
    parquet schema, read back without a schema given."""
    from pyspark.sql.types import _parse_datatype_string

    df = spark.read.parquet(os.path.join(trained_model, "scoring", "vectorizer"))
    assert df.schema == _parse_datatype_string(_VECTORIZER_ROW)
    row = df.collect()
    assert len(row) == 1 and row[0]["format_version"] == SCORING_FORMAT_VERSION


def test_train_with_lemmatize_stage(spark, corpus_dir, tmp_path_factory):
    """P3 in the main path (reference lemmatizes before tokenizing): the
    lemmatized run folds inflected forms, shrinking the vocabulary."""
    model_dir = str(tmp_path_factory.mktemp("models_lemma"))
    base = run_training(
        spark, corpus_dir, model_dir, Params(k=2, max_iterations=5, vocab_size=1000)
    )
    lemma = run_training(
        spark,
        corpus_dir,
        model_dir,
        Params(k=2, max_iterations=5, vocab_size=1000, lemmatize=True),
    )
    # "cats"/"cat", "dogs"/"dog" fold together; short lemmas (<=3 chars) drop
    assert lemma["vocab_size"] < base["vocab_size"]
    assert lemma["corpus_size"] >= 2


def test_custom_python_datasource(spark, corpus_dir):
    """Spark 4 Python DataSource API: the textcorpus connector reads one
    row per file with one input partition per file."""
    from spark_text_clustering_spark.sources.python_datasource import register

    register(spark)
    df = spark.read.format("textcorpus").option("path", corpus_dir).load()
    rows = df.collect()
    assert len(rows) == len(BOOKS)
    by_name = {os.path.basename(r["path"]): r["text"] for r in rows}
    assert by_name == BOOKS
    # partition-per-file scheduling
    assert df.rdd.getNumPartitions() == len(BOOKS)
    # batching knob
    df2 = (
        spark.read.format("textcorpus")
        .option("path", corpus_dir)
        .option("files_per_partition", "2")
        .load()
    )
    assert df2.count() == len(BOOKS)
    assert df2.rdd.getNumPartitions() == (len(BOOKS) + 1) // 2


def test_custom_datasource_streaming(spark, tmp_path):
    """Streaming form of the textcorpus connector: files added between
    microbatches are ingested exactly once."""
    import time

    from pyspark.sql import functions as F

    from spark_text_clustering_spark.sources.python_datasource import register

    register(spark)
    d = tmp_path / "stream_books"
    d.mkdir()
    (d / "one.txt").write_text("first document text")

    stream = spark.readStream.format("textcorpus").option("path", str(d)).load()
    counted = stream.select(
        F.col("path"), F.size(F.split("text", r"\s+")).alias("n_tokens")
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("t_pyds")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("t_pyds").count() == 1
        (d / "two.txt").write_text("second doc arrives later with more words")
        # processAllAvailable drains data visible at its offset poll; under
        # load the new file can land just after a poll — retry with a
        # deadline rather than trusting a single drain.
        deadline = time.time() + 30
        while spark.table("t_pyds").count() < 2 and time.time() < deadline:
            q.processAllAvailable()
            time.sleep(0.2)
        rows = {r["path"].split("/")[-1]: r["n_tokens"] for r in spark.table("t_pyds").collect()}
        assert rows == {"one.txt": 3, "two.txt": 7}  # each file exactly once
    finally:
        q.stop()


def test_training_with_german_stopwords(spark, tmp_path_factory):
    """Language-parameterized stopwords (reference runs one job per
    language directory with stopWords_<lang>.txt)."""
    from spark_text_clustering_spark.functions.textnorm import STOPWORDS_BY_LANG

    d = tmp_path_factory.mktemp("de_books")
    (d / "buch1.txt").write_text("der hund läuft und der hund bellt im garten")
    (d / "buch2.txt").write_text("die katze schläft auf dem sofa und die katze frisst")
    model_dir = str(tmp_path_factory.mktemp("models_de"))
    summary = run_training(
        spark,
        str(d),
        model_dir,
        Params(k=2, max_iterations=5, vocab_size=100,
               stopwords=list(STOPWORDS_BY_LANG["GE"])),
        lang="GE",
    )
    assert summary["corpus_size"] == 2
    assert os.path.basename(summary["model_path"]).startswith("LdaModel_GE_")
    # German stopwords removed from the vocabulary
    all_terms = [t for terms in summary["topics"].values() for t in terms]
    assert "der" not in all_terms and "und" not in all_terms


def test_cli_train(corpus_dir, tmp_path_factory):
    """The spark-submit-style CLI surface: python -m ...app train."""
    import json
    import subprocess
    import sys

    model_dir = str(tmp_path_factory.mktemp("cli_models"))
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable, "-m", "spark_text_clustering_spark.app", "train",
            "--corpus", corpus_dir, "--model-dir", model_dir,
            "--k", "2", "--max-iter", "5",
        ],
        capture_output=True, text=True, timeout=300, cwd="/root/repo", env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["corpus_size"] == 3
    assert os.path.isdir(summary["model_path"])
