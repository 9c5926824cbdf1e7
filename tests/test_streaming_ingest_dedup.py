"""Streaming ingest dedup: foreachBatch + persistent fingerprint store.

Drives the production composition end-to-end: files land → one
microbatch per file → each epoch dedups against all history → survivors
commit under the epoch's store partition; a checkpoint-restart resumes
without reprocessing, and new files dedup against the whole history.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_text_clustering_spark.catalog import SCHEMAS, load_table
from spark_text_clustering_spark.streaming.ingest_dedup import (
    streaming_ingest_dedup,
)

from .conftest import SF_SMALL


def _write_file(spark, src, name, rows):
    """Land one parquet FILE (not a directory) — the file stream source
    lists plain files under the landing dir."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ingest_stage_")
    try:
        spark.createDataFrame(rows, SCHEMAS["documents"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"{name}.parquet"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _doc_rows(docs, lo, hi, shift=0):
    return [
        (r["doc_id"] + shift, r["text"], r["lang"], r["source"], r["n_chars"])
        for r in docs
        if lo <= r["doc_id"] < hi
    ]


def test_streaming_ingest_dedup_exact(spark, tmp_path):
    docs = [
        r
        for r in load_table(spark, SF_SMALL, "documents").collect()
        if r["doc_id"] < 150
    ]
    src = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # three landing files: [0,50), [50,100), and a full replay of the
    # first file under shifted ids (pure late duplicates)
    _write_file(spark, src, "f0", _doc_rows(docs, 0, 50))
    _write_file(spark, src, "f1", _doc_rows(docs, 50, 100))
    _write_file(spark, src, "f2", _doc_rows(docs, 0, 50, shift=7_000_000))

    out = streaming_ingest_dedup(spark, src, store, ckpt)
    n_distinct = (
        spark.createDataFrame(
            _doc_rows(docs, 0, 100), SCHEMAS["documents"]
        )
        .select("text")
        .distinct()
        .count()
    )
    # survivors across all epochs == corpus-distinct texts of files 0+1
    # (file 2 is all duplicates)
    assert out.count() == n_distinct
    # one store partition per epoch that had survivors
    parts = {r["batch_id"] for r in out.select("batch_id").distinct().collect()}
    assert parts == {"epoch000000", "epoch000001"} | (
        {"epoch000002"} if out.where(F.col("batch_id") == "epoch000002").count() else set()
    )

    # restart with the SAME checkpoint: nothing to reprocess, store unchanged
    out2 = streaming_ingest_dedup(spark, src, store, ckpt)
    assert out2.count() == n_distinct

    # a NEW file after restart: half replays of history + half fresh docs
    fresh = _doc_rows(docs, 100, 120)
    stale = _doc_rows(docs, 50, 70, shift=8_000_000)
    _write_file(spark, src, "f3", fresh + stale)
    out3 = streaming_ingest_dedup(spark, src, store, ckpt)
    n_distinct_all = (
        spark.createDataFrame(
            _doc_rows(docs, 0, 120), SCHEMAS["documents"]
        )
        .select("text")
        .distinct()
        .count()
    )
    assert out3.count() == n_distinct_all

    # crash-replay equivalence: re-running epoch 3's batch under its own
    # batch_id (what a foreachBatch retry does) must leave the store
    # byte-identical in survivor count — the overwrite commit
    from spark_text_clustering_spark.operators.dedup import incremental_dedup

    batch3 = spark.createDataFrame(fresh + stale, SCHEMAS["documents"]).select(
        "doc_id", "text"
    )
    incremental_dedup(spark, batch3, store, batch_id="epoch000003")
    assert spark.read.parquet(store).count() == n_distinct_all


def test_streaming_ingest_dedup_minhash(spark, tmp_path):
    """Near-dup twin through the same streaming harness: the second
    file's light perturbations of the first file's docs are dropped
    against the signature store; short docs survive (the round-6 fix)."""
    import numpy as np

    rng = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(300)]

    def doc(n=40):
        return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n))

    base = {i: doc() for i in range(8)}

    def perturb(t, seed):
        words = t.split()
        words[5 + seed % 10] = "zz" + words[5 + seed % 10]
        return " ".join(words)

    src = str(tmp_path / "landing_mh")
    store = str(tmp_path / "store_mh")
    ckpt = str(tmp_path / "ckpt_mh")
    os.makedirs(src)
    rows1 = [(i, t, "en", "src", len(t)) for i, t in base.items()]
    rows2 = [(100 + i, perturb(base[i], i), "en", "src", 1) for i in range(4)] + [
        (200, doc(), "en", "src", 1),
        (201, "tiny doc", "en", "src", 8),  # <3 tokens: must survive
    ]
    _write_file(spark, src, "f0", rows1)
    _write_file(spark, src, "f1", rows2)

    sigs = streaming_ingest_dedup(spark, src, store, ckpt, minhash=True)
    survivors = {r["doc_id"] for r in sigs.select("doc_id").collect()}
    # file-1 perturbations (100..103) dropped; 200 fresh doc kept;
    # 201 is unshingleable so it carries no signature, but it IS a
    # survivor: its epoch commits it into the signature store with
    # sig = NULL (round-7 fix made it durable; the round-15 fused commit
    # moved it from a separate unsigned/ sub-store into the same batch
    # partition)
    assert set(range(8)) <= survivors
    assert survivors & {100, 101, 102, 103} == set()
    assert 200 in survivors
    assert 201 in survivors
    # and it is durable: a fresh read of the store (what a new session
    # would do) sees it too — as a NULL-sig row that carries no band rows
    # (nothing can ever match it)
    sig_store = spark.read.parquet(f"{store}/signatures")
    unsigned_ids = {
        r["doc_id"] for r in sig_store.where(sig_store["sig"].isNull()).collect()
    }
    assert unsigned_ids == {201}
    band_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{store}/bands").collect()
    }
    assert 201 not in band_ids


def test_minhash_store_old_layout_fails_loudly(spark, tmp_path):
    """A round-14 MinHash store keeps unshingleable survivors in a
    separate unsigned/ sub-store that today's readers never open. Both
    the incremental batch path and the streaming read must refuse it
    instead of silently dropping those survivors."""
    import pytest

    from spark_text_clustering_spark.operators.dedup import incremental_dedup_minhash

    store = str(tmp_path / "store_r14")
    spark.createDataFrame(
        [(1, [7] * 64, "b000000")], "doc_id long, sig array<long>, batch_id string"
    ).write.partitionBy("batch_id").parquet(f"{store}/signatures")
    spark.createDataFrame(
        [(2, "b000000")], "doc_id long, batch_id string"
    ).write.partitionBy("batch_id").parquet(f"{store}/unsigned")

    docs = spark.createDataFrame([(3, "a fresh document with words")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unsigned/"):
        incremental_dedup_minhash(spark, docs, store)

    src = str(tmp_path / "landing_r14")
    os.makedirs(src)
    _write_file(spark, src, "f0", [(3, "a fresh document with words", "en", "src", 27)])
    with pytest.raises(ValueError, match="unsigned/"):
        streaming_ingest_dedup(spark, src, store, str(tmp_path / "ckpt_r14"), minhash=True)


def test_streaming_lda_serving_matches_batch(spark, tmp_path, monkeypatch):
    """LDA topic scoring served on a stream (the reference's own serving
    path) must reproduce batch scoring exactly: every stage after
    training is a frozen per-doc transform, so batch boundaries cannot
    change a single topic distribution."""
    from spark_text_clustering_spark.catalog import load_table
    from spark_text_clustering_spark.ml import lda as lda_mod
    from spark_text_clustering_spark.ml.lda import score_documents, scoring_model
    from spark_text_clustering_spark.ml.vectorize import featurize, vectorize
    from spark_text_clustering_spark.streaming.model_serving import (
        serve_lda_topics_stream,
    )

    docs = [
        r
        for r in load_table(spark, SF_SMALL, "documents").collect()
        if r["doc_id"] < 120
    ]
    src = str(tmp_path / "lda_landing")
    out = str(tmp_path / "lda_out")
    ckpt = str(tmp_path / "lda_ckpt")
    os.makedirs(src)
    # land the same corpus the model trains on, split into 3 files; use a
    # TRAIN dir holding exactly these docs so batch scoring covers them
    train_dir = str(tmp_path / "lda_train_sf")
    os.makedirs(train_dir)
    spark.createDataFrame(
        _doc_rows(docs, 0, 120), SCHEMAS["documents"]
    ).write.mode("overwrite").parquet(os.path.join(train_dir, "documents.parquet"))
    _write_file(spark, src, "f0", _doc_rows(docs, 0, 40))
    _write_file(spark, src, "f1", _doc_rows(docs, 40, 80))
    _write_file(spark, src, "f2", _doc_rows(docs, 80, 120))

    served = []  # the local model the stream scores with

    def capture(model):
        served.append(scoring_model(model))
        return served[-1]

    monkeypatch.setattr(lda_mod, "scoring_model", capture)
    streamed = serve_lda_topics_stream(
        spark, src, train_dir, out, ckpt, k=3, max_iter=5
    )
    got = {
        r["doc_id"]: (r["main_topic"], tuple(r["topic_dist"]))
        for r in streamed.collect()
    }

    # batch twin: one pass over every doc with the served model (a second
    # EM fit may differ in the last bit: it sums in task completion order)
    train_docs = load_table(spark, train_dir, "documents")
    _, vectorizer = vectorize(train_docs, vocab_size=50_000, min_doc_freq=2)
    feat = featurize(train_docs, vectorizer).select("doc_id", "tfidf")
    want = {
        r["doc_id"]: (r["main_topic"], tuple(r["topic_dist"]))
        for r in score_documents(served[0], feat).collect()
    }
    assert len(got) > 0
    assert got == want


def test_streaming_lang_id_serving_replay_idempotent(spark, tmp_path):
    """round-7 ADVICE regression: foreachBatch is at-least-once, so a
    replayed epoch must REPLACE its predictions, not append beside them.
    Simulate the worst-case replay — wipe the checkpoint and re-drain the
    same landing dir into the SAME output dir: every epoch re-fires with
    its original epoch id, and the per-epoch partition overwrite must
    leave the prediction count unchanged (append mode doubled it)."""
    import glob

    from spark_text_clustering_spark.streaming.model_serving import (
        serve_lang_id_stream,
    )

    docs = [
        r
        for r in load_table(spark, SF_SMALL, "documents").collect()
        if r["doc_id"] < 90
    ]
    src = str(tmp_path / "serve_landing")
    out = str(tmp_path / "serve_out")
    os.makedirs(src)
    for i, (lo, hi) in enumerate([(0, 30), (30, 60), (60, 90)]):
        _write_file(spark, src, f"f{i}", _doc_rows(docs, lo, hi))
        p = os.path.join(src, f"f{i}.parquet")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    n1 = serve_lang_id_stream(
        spark, src, SF_SMALL, out, str(tmp_path / "ck1")
    ).count()
    assert n1 == len(docs)
    n2 = serve_lang_id_stream(
        spark, src, SF_SMALL, out, str(tmp_path / "ck2")
    ).count()
    assert n2 == n1
    eps = {
        os.path.basename(p) for p in glob.glob(os.path.join(out, "epoch=*"))
    }
    assert eps == {"epoch=0", "epoch=1", "epoch=2"}


def test_streaming_lang_id_serving_from_stored_artifacts(spark, tmp_path):
    """Round-7: the stored-artifact serving twin — train once, persist
    the NB model with lang_nb_save, then serve a document stream from
    the PARQUET ARTIFACTS alone (no training in the serving path). The
    streamed predictions must equal (a) batch scoring with the trained
    artifacts and (b) the train-in-session serving twin, because the
    loaded artifacts are asserted drop-in identical."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.text import (
        lang_nb_save,
        lang_nb_score,
        lang_nb_train,
    )
    from spark_text_clustering_spark.streaming.model_serving import (
        serve_lang_id_stream_from_artifacts,
    )

    docs = [
        r
        for r in load_table(spark, SF_SMALL, "documents").collect()
        if r["doc_id"] < 90
    ]
    model_path = str(tmp_path / "nb_model")
    artifacts = lang_nb_train(spark, SF_SMALL)
    lang_nb_save(spark, artifacts, model_path)

    src = str(tmp_path / "art_landing")
    out = str(tmp_path / "art_out")
    os.makedirs(src)
    for i, (lo, hi) in enumerate([(0, 30), (30, 60), (60, 90)]):
        _write_file(spark, src, f"f{i}", _doc_rows(docs, lo, hi))
        p = os.path.join(src, f"f{i}.parquet")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    streamed = serve_lang_id_stream_from_artifacts(
        spark, src, model_path, out, str(tmp_path / "art_ck")
    )
    got = {
        (r["doc_id"], r["predicted_lang"]) for r in streamed.collect()
    }
    batch_docs = (
        spark.createDataFrame(_doc_rows(docs, 0, 90), SCHEMAS["documents"])
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", "lang", F.lower("text").alias("t"))
    )
    want = {
        (r["doc_id"], r["predicted_lang"])
        for r in lang_nb_score(batch_docs, artifacts).collect()
    }
    assert got == want and len(got) == len(docs)
