"""Streaming model serving (round 6): train once in batch, score a
document STREAM with the same artifacts.

The missing member of the train/serve lifecycle: `lang_nb_train`
(operators/text.py) produces the session model artifacts — a broadcast-
sized count frame plus driver-side constants — and each arriving
microbatch scores through the identical `lang_nb_score` plan inside
``foreachBatch``. Because the model is frozen and scoring is per-doc
(every document is wholly contained in its microbatch), the streamed
predictions are EXACTLY the batch predictions regardless of how the
corpus is split into batches — which is why the registered key shares
`lang_id_trained`'s DuckDB oracle.

Scale: the served model is KB-sized and ships in the broadcast; each
microbatch pays one explode + one pivot aggregate over ITS OWN rows
only. No Spark state store is involved — the model is the only state,
and it lives outside the stream (reloaded artifacts on restart).
Reference scope: north-star LLM-pipeline serving shape (SURVEY §2.9);
the reference's own serving path is the LDALoader batch loop this repo
already rebuilt as one `model.transform`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._registry import Registry
from ..catalog import SCHEMAS, load_table
from ._util import staged_source

REG = Registry()


def serve_lang_id_stream(
    spark: SparkSession,
    src_dir: str,
    sf_train_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 1,
    timeout_sec: int = 300,
) -> DataFrame:
    """Score a landed-files document stream against the NB model trained
    on ``sf_train_dir``'s corpus; predictions append to ``out_dir``
    parquet. Returns the scored frame read back."""
    from ..operators.text import lang_nb_score, lang_nb_train

    artifacts = lang_nb_train(spark, sf_train_dir)

    def _score_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        docs = batch_df.where(F.col("doc_id").isNotNull()).select(
            "doc_id", "lang", F.lower("text").alias("t")
        )
        # foreachBatch is at-least-once: a crashed epoch REPLAYS with the
        # same id, so each epoch overwrites its OWN partition — a replay
        # replaces rather than double-appends its predictions (the same
        # commit contract as incremental_dedup; round-7 ADVICE fix)
        lang_nb_score(docs, artifacts).write.mode("overwrite").parquet(
            f"{out_dir}/epoch={int(epoch_id)}"
        )

    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_score_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"lang-id serving stream did not drain within {timeout_sec}s"
        )
    # partition discovery surfaces the epoch key as a column; the serving
    # contract is prediction rows only
    return spark.read.parquet(out_dir).drop("epoch")


@REG.register(
    "stream_lang_id_serving",
    oracle=None,  # set below: shares lang_id_trained's oracle verbatim
)
def stream_lang_id_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver key: the corpus lands as three files, streams
    through ``serve_lang_id_stream`` with the model trained (in batch)
    on the SAME corpus, and the appended predictions are returned. The
    result must be row-identical to batch `lang_id_trained` — the model
    is frozen and scoring is per-doc, so batch boundaries cannot change
    any prediction — which is why this key reuses that oracle. A model
    accidentally retrained per-microbatch, a dropped epoch, or a
    double-scored batch all break the hash."""
    import glob
    import os
    import shutil
    import tempfile

    # the registered demo bounds the SCORED stream to doc_id < cap (the
    # model still trains on the full corpus, matching the oracle's model
    # CTEs); each call builds/streams/tears down a whole pipeline, so the
    # bound keeps its cost stable across SFs — the API form is uncapped
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("doc_id") < _SERVE_CAP)
    )

    def _stage(src: str, base: str) -> int:
        cuts = docs.approxQuantile("doc_id", [1 / 3, 2 / 3], 0.0)
        if not cuts:
            return 0
        bounds = [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
        for i, (lo, hi) in enumerate(bounds):
            part = docs
            if lo is not None:
                part = part.where(F.col("doc_id") > lo)
            if hi is not None:
                part = part.where(F.col("doc_id") <= hi)
            tmp = os.path.join(base, f"stage{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            pf = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.copy(pf, os.path.join(src, f"f{i}.parquet"))
        return len(bounds)

    # arrival staging memoized per session (staged_source, r14 session 3);
    # the stream itself — model scoring per microbatch, epoch commits,
    # read-back — runs fresh per call against new out/ckpt dirs
    src = staged_source(spark, f"langid:{sf_dir}", _stage)
    if not src:
        return spark.createDataFrame(
            [], "doc_id long, lang string, predicted_lang string"
        )
    base = tempfile.mkdtemp(prefix="serve_langid_run_")
    out, ckpt = (os.path.join(base, d) for d in ("out", "ckpt"))
    try:
        scored = serve_lang_id_stream(spark, src, sf_dir, out, ckpt)
        return scored.localCheckpoint(eager=True)  # out_dir dies on return
    finally:
        shutil.rmtree(base, ignore_errors=True)


_SERVE_CAP = 1500  # registered-demo bound on the scored stream


# share the batch key's oracle, restricted to the demo's scored subset
def _wire_shared_oracle() -> None:
    from ..operators.text import _LANG_NB_ORACLE

    REG.oracles["stream_lang_id_serving"] = (
        f"SELECT * FROM ({_LANG_NB_ORACLE}) WHERE doc_id < {_SERVE_CAP}"
    )


_wire_shared_oracle()


def serve_lda_topics_stream(
    spark: SparkSession,
    src_dir: str,
    sf_train_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    k: int = 5,
    max_iter: int = 10,
    timeout_sec: int = 300,
) -> DataFrame:
    """The reference's OWN serving path, on a stream: train the
    vectorizer + LDA once in batch (frozen ``Vectorizer`` and LDA model —
    per-doc deterministic transforms), then ``featurize`` and topic-score
    each arriving microbatch in ``foreachBatch`` with ONE
    ``model.transform`` (the rebuild of LDALoader's per-book loop) and
    append (doc_id, topic_dist, main_topic) to parquet. Every stage is a
    frozen per-row transform, so batching cannot change an assignment:
    epochs score through ``scoring_model`` (its inference is seeded per
    document), so streamed topic distributions equal batch scoring's
    exactly — asserted in tests/test_streaming_ingest_dedup.py."""
    from ..catalog import load_table
    from ..ml.lda import score_documents, scoring_model, train_lda
    from ..ml.vectorize import featurize, vectorize

    train_docs = load_table(spark, sf_train_dir, "documents")
    vec, vectorizer = vectorize(train_docs, vocab_size=50_000, min_doc_freq=2)
    corpus = vec.select("doc_id", "tfidf")
    lda_model = scoring_model(
        train_lda(corpus, k=k, max_iter=max_iter, optimizer="em", seed=42)
    )

    def _score_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        feat = featurize(batch_df, vectorizer).select("doc_id", "tfidf")
        # per-epoch partition overwrite: a replayed (at-least-once) epoch
        # replaces rather than double-appends its scores (round-7 fix)
        score_documents(lda_model, feat).write.mode("overwrite").parquet(
            f"{out_dir}/epoch={int(epoch_id)}"
        )

    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_score_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"LDA serving stream did not drain within {timeout_sec}s"
        )
    return spark.read.parquet(out_dir).drop("epoch")


def serve_lang_id_stream_from_artifacts(
    spark: SparkSession,
    src_dir: str,
    model_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 1,
    timeout_sec: int = 300,
) -> DataFrame:
    """The stored-artifact twin of ``serve_lang_id_stream`` (round 7):
    scoring artifacts come from the DURABLE parquet model written by
    ``lang_nb_save`` — no training in this session at all. This is the
    production restart story: the serving job can die, the cluster can
    be replaced, and a fresh session resumes scoring from (model_path,
    checkpoint_dir) alone, with the same per-epoch overwrite commit
    making crash replays idempotent. Artifact-loaded scoring is
    asserted row-identical to trained-artifact scoring in
    tests/test_lm.py; the streamed composition is asserted equal to the
    batch predictions in tests/test_streaming_ingest_dedup.py."""
    from ..operators.text import lang_nb_load, lang_nb_score

    artifacts = lang_nb_load(spark, model_path)

    def _score_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        docs = batch_df.where(F.col("doc_id").isNotNull()).select(
            "doc_id", "lang", F.lower("text").alias("t")
        )
        lang_nb_score(docs, artifacts).write.mode("overwrite").parquet(
            f"{out_dir}/epoch={int(epoch_id)}"
        )

    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_score_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"artifact serving stream did not drain within {timeout_sec}s"
        )
    return spark.read.parquet(out_dir).drop("epoch")
