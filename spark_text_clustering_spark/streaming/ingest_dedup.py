"""Streaming ingest deduplication (round 6): Structured Streaming +
``foreachBatch`` + the persistent-store incremental dedup.

This is THE production composition the store design in
``operators/dedup.py`` exists for: documents arrive as files (the bronze
landing zone), each microbatch dedups against ALL history via the
fingerprint store without rereading historical text, and survivors
commit under the microbatch's own store partition.

Exactly-once story: ``foreachBatch`` is at-least-once — after a crash
the failed epoch REPLAYS with the same batch id. ``incremental_dedup``'s
commit overwrites only its own ``batch_id=`` partition and its anti-join
ignores that partition, so a replay recomputes identical survivors and
replaces (never duplicates) its output — the retry-idempotence contract
tested in tests/test_incremental_dedup.py, driven here end-to-end
through a real streaming query with a checkpoint-restart
(tests/test_streaming_ingest_dedup.py).

Scale: each epoch shuffles the NEW batch's (sha256, doc_id) pairs and
anti-joins ~40 B/doc fingerprints — the stream's state is the parquet
store itself (no Spark state-store growth), so an arbitrarily long
ingest history costs each epoch only the store scan, which partition
stats keep pruned. Reference scope: the reference is batch-only text
clustering; this is north-star LLM-pipeline scope (SURVEY §2.9).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import SCHEMAS


def streaming_ingest_dedup(
    spark: SparkSession,
    src_dir: str,
    store_path: str,
    checkpoint_dir: str,
    *,
    minhash: bool = False,
    max_files_per_trigger: int = 1,
    timeout_sec: int = 300,
) -> DataFrame:
    """Replay ``src_dir``'s document files as a stream (one microbatch
    per ``max_files_per_trigger`` files, availableNow so the call
    returns when the backlog drains) and dedup each microbatch against
    the persistent store. ``minhash=True`` routes through the near-dup
    twin (``incremental_dedup_minhash``) instead of exact hashing.

    Restartable: pass the same ``checkpoint_dir`` to resume — already-
    committed epochs are not reprocessed, and a replayed (crashed) epoch
    overwrites its own store partition idempotently. Returns the store's
    current survivor frame (doc ids + their batch partitions)."""
    from ..operators.dedup import (
        incremental_dedup,
        incremental_dedup_minhash,
        reject_unsigned_substore,
    )

    if minhash:  # before the stream starts: the final read would drop rows
        reject_unsigned_substore(store_path)

    def _dedup_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        docs = batch_df.select("doc_id", "text")
        # epoch-derived batch id: a replayed epoch gets the SAME id, so
        # the store commit is an overwrite, not a duplicate append
        bid = f"epoch{int(epoch_id):06d}"
        if minhash:
            incremental_dedup_minhash(spark, docs, store_path, batch_id=bid)
        else:
            incremental_dedup(spark, docs, store_path, batch_id=bid)

    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_dedup_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        # timed out with the query still running: stop it and fail loudly
        # rather than read a store a live writer may still be mutating
        q.stop()
        raise TimeoutError(
            f"ingest-dedup stream did not drain within {timeout_sec}s"
        )
    if not minhash:
        return spark.read.parquet(store_path)
    # the signature store holds EVERY survivor since the round-15 fused
    # commit: unshingleable (short/null-text) docs commit into the same
    # batch partition with sig = NULL (round-7 ADVICE fix made them
    # durable; round 15 folded their separate unsigned/ sub-store into
    # the signatures write — one commit job per epoch instead of two)
    return spark.read.parquet(f"{store_path}/signatures").select(
        "doc_id", "batch_id"
    )


from pyspark.sql import functions as F  # noqa: E402

from .._registry import Registry  # noqa: E402
from ..catalog import load_table  # noqa: E402
from ._util import staged_source  # noqa: E402

REG = Registry()

_STREAM_INGEST_CAP = 1500  # registered-demo bound: ids below this stream

_STREAM_DEDUP_ORACLE = f"""
SELECT MIN(doc_id) AS doc_id
FROM documents
WHERE doc_id IS NOT NULL AND doc_id < {_STREAM_INGEST_CAP}
GROUP BY text
"""


@REG.register("stream_ingest_dedup", oracle=_STREAM_DEDUP_ORACLE)
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver key for the streaming ingest-dedup composition:
    the documents table lands as THREE files in ascending doc_id ranges,
    replays through a real Structured Streaming query (one microbatch
    per file, availableNow, checkpointed) whose ``foreachBatch`` runs
    ``incremental_dedup`` against a fresh store, and the store's
    survivors are returned.

    The oracle is exact SQL: ranges ascend and epochs process in file
    order, so the survivor of every duplicate text group is its globally
    smallest doc_id — MIN(doc_id) GROUP BY text. A wrong stream order, a
    double-committed epoch, or a broken history anti-join all break the
    hash match. (The streaming machinery itself — restart, crash-replay
    idempotence, the minhash twin — is exercised in
    tests/test_streaming_ingest_dedup.py.) The registered demo bounds
    the replayed corpus to doc_id < _STREAM_INGEST_CAP so its cost is
    stable across SFs — each registered call builds, streams, and tears
    down a whole pipeline; the API (`streaming_ingest_dedup`) takes any
    source."""
    import glob
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("doc_id") < _STREAM_INGEST_CAP)
    )

    def _stage(src: str, base: str) -> int:
        cuts = docs.approxQuantile("doc_id", [1 / 3, 2 / 3], 0.0)
        if not cuts:  # empty corpus: no files to land, no survivors
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
            dst = os.path.join(src, f"f{i}.parquet")
            shutil.copy(pf, dst)
            # the file source orders by modification time: pin it so
            # epoch order == range order deterministically
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        return len(bounds)

    # arrival staging memoized per session (staged_source, r14 session 3);
    # the streaming query, per-epoch dedup commits, and store read-back
    # run fresh per call against new store/ckpt dirs
    src = staged_source(spark, f"ingestdedup:{sf_dir}", _stage)
    if not src:
        return spark.createDataFrame([], "doc_id long")
    base = tempfile.mkdtemp(prefix="stream_dedup_run_")
    store, ckpt = (os.path.join(base, d) for d in ("store", "ckpt"))
    try:
        out = streaming_ingest_dedup(spark, src, store, ckpt)
        return out.select("doc_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
