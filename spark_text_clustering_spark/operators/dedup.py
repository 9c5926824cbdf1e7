"""Deduplication operators for LLM training-data pipelines.

Four families (north star, SURVEY §2.9): exact content hash, MinHash+LSH,
SimHash, and exact n-gram Jaccard. The reference has no dedup at all; its
closest analogue is the within-sentence ``toMap`` dedup bug
(LDAClustering.scala:298) which we deliberately do NOT replicate.

Scale design (100 TB):
* exact: hash-groupBy on sha256(text) — the shuffle carries (hash, id),
  never the text payloads; pick min(id) as survivor.
* MinHash/LSH: signatures are fixed-size regardless of doc length; the LSH
  band join buckets candidates so comparison cost is |candidate pairs|, not
  |docs|². This is THE standard web-corpus near-dedup design (Spark ML's
  MinHashLSH implements the banding join natively).
* SimHash: 64-bit signature per doc; near-dup candidates share band
  prefixes (join on rotated prefixes); Hamming distance is a cheap
  post-filter.
* n-gram Jaccard: exact verification — shingle-explode + pair join grouped
  by shared shingles; always run AFTER a candidate-narrowing stage at
  scale (here blocked by ``lang`` to bound the pair space).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .._registry import Registry
from ..catalog import load_table, spread
from ..functions.textnorm import stopwords_sql_list

REG = Registry()


def _doubled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ re-keyed copy of documents — guarantees every text has at
    least one exact duplicate so the dedup operators have real work to do
    (the synthetic corpus itself may be duplicate-free)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copy = docs.select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text")
    return docs.unionByName(copy)


@REG.register(
    "dedup_exact_hash",
    oracle="""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents)
    SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dupes
    FROM all_docs
    GROUP BY text
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by sha256 of the content, keep min(doc_id).

    The oracle groups by raw text (same equivalence classes — sha256 is
    injective for our purposes); the Spark side groups by the hash so the
    shuffle never carries document payloads — the point of the design at
    100 TB.
    """
    docs = _doubled_docs(spark, sf_dir)
    return (
        docs.withColumn("h", F.sha2("text", 256))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dupes"))
        .select("doc_id", "n_dupes")
    )


def _shingles(tokens_col, n: int = 3):
    """Token n-gram shingles via JVM array ops (no Python).

    NOTE: only safe where the expression is evaluated exactly once per row
    (a single projection). Under filters/reuse, Catalyst re-inlines the
    tokenizer per ``element_at`` — O(T²) re-splits; use
    ``shingle_arrays`` (explode + lead) in those plans.
    """
    return F.transform(
        F.sequence(F.lit(0), F.size(tokens_col) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(tokens_col, i + off + 1) for off in range(n)]),
    )


def shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles array<string>) via posexplode + window lead —
    tokenizes once per row regardless of downstream plan shape."""
    from pyspark.sql import Window

    toks = F.split(F.lower(F.col("text")), r"\s+")
    tok_rows = docs.select("doc_id", F.posexplode(toks).alias("pos", "token"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("token", i).over(w) for i in range(1, n)]
    tri = tok_rows.select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.col("token"), *leads).alias("s"),
        leads[-1].alias("last_tok"),
    ).where(F.col("last_tok").isNotNull())
    return tri.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ordered")
    ).select("doc_id", F.transform("ordered", lambda x: x.s).alias("shingles"))


# one materialized shingle->TF frame per (applicationId, sf_dir): the
# approxSimilarityJoin is a SELF-join, so without a checkpoint the
# shingle build + hashing runs twice per call (measured 3.4 s -> 2.2 s at
# sf0.1 with the checkpoint); memoized so repeated calls don't leak blocks
@REG.register("dedup_minhash")  # rows-only: MinHashLSH is approximate/seeded
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup candidates via MinHashLSH over 3-gram shingle sets.

    Shingle → HashingTF(2^18, binary) → MinHashLSH(8 tables, fixed seed)
    → approxSimilarityJoin (banding join on hash buckets) at Jaccard
    distance ≤ 0.6. Deterministic given the seed. Output: candidate pairs
    (id_a < id_b) with Jaccard distance. Pair-recall vs exact Jaccard
    ground truth measured 1.000 at sf0.01 (tests/test_dedup_quality.py).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # spread before shingling: the checkpointed frame inherits the
    # scan's partitioning, and a single-split corpus would pin
    # shingling, the 8-table minhash transform, and the banding
    # join's map side to ONE core (round-14 grain lesson). Checkpoint
    # per CALL — the approxSimilarityJoin is a SELF-join, so the
    # shingle+hash build would otherwise run twice per call (round 15,
    # VERDICT r14 #1: no cross-call memo of corpus-derived work).
    docs = spread(spark, load_table(spark, sf_dir, "documents"))
    sh = shingle_arrays(docs).where(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feat = tf.transform(sh).localCheckpoint(eager=True)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 0.6, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


def _simhash_series(tokens: pd.Series) -> pd.Series:
    """64-bit SimHash over token multisets (Charikar 2002). Deterministic:
    per-token hash is a fixed FNV-1a; no RNG. Bit accumulation is
    numpy-vectorized (per-doc O(tokens) hash loop, O(64) bit math in C)."""
    import numpy as np

    def tok_hash(t: str) -> int:
        h = 0xCBF29CE484222325
        for ch in t.encode("utf-8"):
            h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return h

    shifts = np.arange(64, dtype=np.uint64)

    def simhash(arr) -> int:
        if arr is None or len(arr) == 0:  # null text -> null token array
            return 0
        hashes = np.fromiter((tok_hash(t) for t in arr), dtype=np.uint64, count=len(arr))
        bits = (hashes[:, None] >> shifts) & np.uint64(1)  # (n_tokens, 64)
        acc = bits.sum(0, dtype=np.int64) * 2 - len(arr)  # +1/-1 votes
        v = int(((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
        # map to signed 64-bit for Spark LongType
        return v - (1 << 64) if v >= (1 << 63) else v

    return tokens.map(simhash)


@REG.register("dedup_simhash")  # rows-only: bit-twiddling hash not ANSI-SQL-expressible
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs: 64-bit signature per doc (pandas
    UDF), candidates = docs sharing any of four 16-bit bands (join per
    band — at most 3 bit-flips guarantee a shared band), verified by
    Hamming distance ≤ 3 via JVM ``bit_count(xor)``.

    Scale: band join buckets on 16-bit prefixes → shuffle on small keys;
    the quadratic verify only runs within buckets.
    """
    simhash_udf = pandas_udf(_simhash_series, "long")
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    sig = docs.select("doc_id", simhash_udf(toks).alias("simhash")).cache()
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 3)
    )
    return pairs


_NGRAM_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS l FROM documents),
sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(generate_series(1, len(l) - 2),
                                      i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS shingles
  FROM toks WHERE len(l) >= 3),
ex AS (SELECT doc_id, lang, unnest(shingles) AS s, len(shingles) AS n FROM sh),
-- candidate cap: shingles present in > 100 docs of a language are
-- boilerplate — they explode the pair space quadratically; drop them from
-- the JOIN (denominators keep the full shingle sets)
exj AS (
  SELECT * FROM (
    SELECT ex.*, COUNT(*) OVER (PARTITION BY s, lang) AS df FROM ex)
  WHERE df <= 100),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         any_value(a.n) AS n_a, any_value(b.n) AS n_b
  FROM exj a JOIN exj b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) AS jaccard
FROM common
WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5
"""


def _ngram_pair_counts(docs: DataFrame) -> DataFrame:
    """The lang-blocked distinct-trigram candidate machinery — ONE Spark
    implementation shared by `dedup_ngram_jaccard` and
    `dedup_shingle_containment` (round-10 refactor: the SQL side was
    already unified in `NGRAM_PAIR_CTES`; the Spark side must not be able
    to drift either). Returns the unordered-pair aggregate
    (id_a < id_b, n_common, n_a, n_b).

    Tokenize ONCE per row, then build trigrams with window lead() — the
    array-lambda formulation (transform + element_at over the split) makes
    Catalyst re-inline the tokenizer per element access, which is O(T²)
    re-splits per document once a filter forces re-evaluation. The df ≤
    100 candidate cap (docs/SCALE.md) excludes boilerplate shingles from
    the join — they contribute pair-space quadratically and no dedup
    signal; denominators (n_a, n_b) keep the full shingle-set sizes."""
    from pyspark.sql import Window

    # spread a single-split corpus so tokenize+posexplode parallelize
    # (round-14 grain lesson; cold 8.4 -> 3.0 s at sf0.1, warm neutral)
    docs = spread(docs.sparkSession, docs)
    toks = F.split(F.lower(F.col("text")), r"\s+")
    tok_rows = docs.select(
        "doc_id", "lang", F.posexplode(toks).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = tok_rows.select(
        "doc_id",
        "lang",
        F.concat_ws(
            " ", "token", F.lead("token", 1).over(w), F.lead("token", 2).over(w)
        ).alias("s"),
        F.lead("token", 2).over(w).alias("t2"),
    ).where(F.col("t2").isNotNull())
    distinct_sh = tri.select("doc_id", "lang", "s").distinct()
    ex = distinct_sh.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    ex_j = ex.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("s", "lang"))
    ).where(F.col("df") <= 100)
    a = ex_j.alias("a")
    b = ex_j.alias("b")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.n")).alias("n_a"),
            F.first(F.col("b.n")).alias("n_b"),
        )
    )


@REG.register("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity pairs (≥ 0.5), blocked by language.

    Plan: distinct shingles per doc → explode → self-join on (shingle,
    lang) with id_a < id_b → count common shingles per pair → Jaccard =
    |∩| / (|A| + |B| − |∩|). Integer counts → the division is bit-identical
    to the oracle. Candidate machinery shared with the containment key
    via `_ngram_pair_counts`; scale notes there and in docs/SCALE.md.
    """
    common = _ngram_pair_counts(load_table(spark, sf_dir, "documents"))
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return common.where(jac >= 0.5).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


def incremental_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    batch_id: str | None = None,
) -> DataFrame:
    """Incremental exact dedup against a persistent fingerprint store —
    the production shape: each ingest batch dedups against ALL history
    without rereading historical text.

    new batch → sha256 → (1) self-dedup (min doc_id per hash) →
    (2) anti-join against the hashes of every OTHER batch in the store →
    survivors committed under this batch's own partition. The store holds
    (h, doc_id) partitioned by ``batch_id`` — 40ish bytes/doc regardless
    of document size, so a 100 TB corpus's store is ~100 GB and the
    anti-join shuffles hashes, never text.

    Idempotence (the failure mode a plain append store has): history is
    read EXCLUDING this batch's partition, and the commit OVERWRITES only
    this batch's partition directory. A batch that crashed mid-write, or
    whose downstream consumer failed after the write, can therefore be
    retried with the same ``batch_id`` and will (a) recompute the same
    survivors — its own partial fingerprints are invisible to the
    anti-join — and (b) replace, not duplicate, its partition. Passing
    ``batch_id=None`` auto-assigns the next sequential id (non-retry
    ingest, where a replay is a NEW batch and correctly yields 0
    survivors).
    """
    import os

    def _existing_batches() -> list[str]:
        if not os.path.isdir(store_path):
            return []
        return sorted(
            d.split("=", 1)[1]
            for d in os.listdir(store_path)
            if d.startswith("batch_id=")
        )

    batches = _existing_batches()
    if batch_id is None:
        batch_id = f"b{len(batches):06d}"
        while batch_id in batches:  # gap-tolerant: ids are labels, not counters
            batch_id = f"b{int(batch_id[1:]) + 1:06d}"
    if "/" in batch_id or "=" in batch_id:
        raise ValueError(f"batch_id must not contain '/' or '=': {batch_id!r}")

    hashed = new_docs.withColumn("h", F.sha2("text", 256))
    batch_dedup = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    history = [b for b in batches if b != batch_id]
    if history:
        store = spark.read.parquet(store_path)
        prior = store.where(F.col("batch_id") != batch_id).select("h")
        survivors = batch_dedup.join(prior, "h", "left_anti")
    else:
        survivors = batch_dedup
    # commit: overwrite ONLY this batch's partition directory — a retry
    # replaces any partial prior attempt instead of appending beside it
    survivors.select("h", "doc_id").write.mode("overwrite").parquet(
        f"{store_path}/batch_id={batch_id}"
    )
    # safe to return the lazy frame: its plan anti-joins history that
    # EXCLUDES this batch's partition, so re-evaluation after the commit
    # still yields the same survivors (the old append design returned [] on
    # re-evaluation — fingerprints had become their own history)
    return survivors.select("doc_id", "h")


@REG.register(
    "dedup_fuzzy_levenshtein",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM part a JOIN part b
      ON string_split(a.p_name, ' ')[1] = string_split(b.p_name, ' ')[1]
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance with a blocking key: the
    equi-join on the first token carries the shuffle, the O(|a|·|b|)
    levenshtein verify runs only inside blocks (never a cross join).
    This is record-linkage-style dedup for short strings (titles, names)
    where shingle/MinHash granularity is too coarse. At 100 TB: pick a
    blocking key with bounded frequency (first-token + length bucket) so
    no block degenerates to quadratic. The probe side goes through
    ``catalog.spread`` before the broadcast join: the part table arrives
    as a single parquet split at small SFs, and without the exchange
    every in-block levenshtein (4.4M calls at sf0.1) runs on ONE core —
    measured 22.9 s -> 1.9 s at sf0.1; at scale a many-split probe keeps
    its grain (spread is conditional). (A length-band prefilter and the
    thresholded levenshtein kernel were both A/B'd and NET-NEGATIVE
    here: the band prunes almost nothing on similar-length p_names and
    costs an extra comparison per pair.)"""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    a = spread(spark, p).select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.split("p_name", " ").getItem(0).alias("block"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.split("p_name", " ").getItem(0).alias("block"),
    )
    return (
        a.join(b, "block")
        .where(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 2)
        .select("key_a", "key_b", "name_a", "name_b", F.col("dist").cast("int").alias("dist"))
    )


def _jw_series(a: pd.Series, b: pd.Series) -> pd.Series:
    from ..functions.stringsim import jaro_winkler

    return pd.Series(
        [jaro_winkler(x, y) for x, y in zip(a, b)], dtype="float64"
    )


@REG.register(
    "dedup_fuzzy_jaro_winkler",
    oracle="""
    WITH p AS (
      SELECT doc_id, substr(text, 1, 60) AS head,
             split_part(substr(text, 1, 60), ' ', 1) || ' ' ||
             split_part(substr(text, 1, 60), ' ', 2) AS block
      FROM documents
      WHERE text IS NOT NULL AND length(text) >= 8)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           jaro_winkler_similarity(a.head, b.head) AS jw
    FROM p a JOIN p b USING (block)
    WHERE a.doc_id < b.doc_id
      AND jaro_winkler_similarity(a.head, b.head) >= 0.92
    """,
)
def dedup_fuzzy_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage near-dup pairs by Jaro-Winkler over the document
    HEAD (first 60 chars — the title/header proxy), blocked on the first
    two tokens. Complements ``dedup_fuzzy_levenshtein``: JW rewards
    shared prefixes and tolerates transpositions, the classic choice for
    name/title linkage (Winkler 1990).

    Spark has no built-in JW, so the verify step is an Arrow-batched
    pandas UDF (``functions/stringsim.py``, bit-identical to DuckDB's
    ``jaro_winkler_similarity`` — which is what lets this key carry a
    full value-hash oracle). Scale design: the two-token block bounds
    every block's pair space (measured 14k pairs at sf0.1 vs 50M² raw),
    the equi-join on the block key carries the shuffle, and the Python
    stage sees only blocked PAIRS, never the corpus cross product. The
    0.92 threshold sits in a wide empty band of the observed similarity
    distribution (matches are >=0.95, non-matches <=0.87 at both test
    SFs), so the cut is stable against float noise."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # spread before the blocked self-join: a single-split corpus
    # otherwise runs the probe-side join + the JW Python stage on ONE
    # core (round-14 lesson; 1.3 -> 0.84 s warm at sf0.1)
    heads = spread(
        spark,
        docs.where(
            F.col("text").isNotNull() & (F.length("text") >= 8)
        ).select("doc_id", F.substring("text", 1, 60).alias("head")),
    )
    toks = F.split("head", " ")
    blocked = heads.withColumn(
        "block",
        F.concat_ws(" ", toks.getItem(0), F.coalesce(toks.getItem(1), F.lit(""))),
    )
    a = blocked.select(
        F.col("doc_id").alias("doc_a"), F.col("head").alias("head_a"), "block"
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"), F.col("head").alias("head_b"), "block"
    )
    # asNondeterministic: the UDF IS pure, but the marker stops Catalyst
    # from cloning the expression into both the threshold Filter and the
    # output Project (observed: two ArrowEvalPython stages = 2x the
    # Python cost). With it, jw is computed once and the filter runs on
    # the materialized column.
    jw_udf = pandas_udf(_jw_series, "double").asNondeterministic()
    return (
        a.join(b, "block")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jw", jw_udf("head_a", "head_b"))
        .where(F.col("jw") >= 0.92)
        .select("doc_a", "doc_b", "jw")
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dedup (round 5): MinHash signature store
# ---------------------------------------------------------------------------

_IMH_K = 64  # signature components
_IMH_BANDS = 16  # bands of r = K/BANDS = 4 rows -> P(collide | j=0.6) ~ 0.89
_IMH_PRIME = 4294967311  # first prime > 2^32


def _imh_hash_params(seed: int = 42):
    """(a, b) pairs for the k universal-hash permutations
    h_i(x) = (a_i*x + b_i) mod p over the 32-bit shingle-hash domain.
    a < 2^29 keeps a*x + b inside signed-64 (x < 2^32 -> a*x < 2^61)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 29, _IMH_K)
    b = rng.integers(0, _IMH_PRIME, _IMH_K)
    return a.tolist(), b.tolist()


# Unresolved Column expression caches (round 14 session 4, guide §1/§4:
# the JVM<->Python boundary is also the DRIVER-side py4j chatter): the
# 64 min-agg expressions, the 16-band explode, and the est-Jaccard
# aggregate are ~400 py4j round trips to CONSTRUCT (~1 s per replay
# batch, measured) yet are pure functions of module constants. Column
# objects wrap immutable unresolved JVM expressions that bind by NAME at
# analysis time, so one process-wide instance serves every input frame.
_IMH_EXPR_CACHE: dict = {}


def _imh_agg_cols() -> list:
    if "agg" not in _IMH_EXPR_CACHE:
        a_s, b_s = _imh_hash_params()
        _IMH_EXPR_CACHE["agg"] = [
            F.min(
                (F.lit(a_s[i]) * F.col("x") + F.lit(b_s[i])) % F.lit(_IMH_PRIME)
            ).alias(f"s{i}")
            for i in range(_IMH_K)
        ]
        _IMH_EXPR_CACHE["sig_array"] = F.array(
            *[f"s{i}" for i in range(_IMH_K)]
        ).alias("sig")
    return _IMH_EXPR_CACHE["agg"]


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig array<long>[k], band rows exploded separately) — k=64
    min-wise signatures over 3-gram shingles, entirely JVM-side: shingle →
    xxhash64 → 32-bit fold → k universal hashes → per-component MIN agg
    (map-side partial, so the shuffle carries 64 longs per doc per
    partition, never shingles). The standard MinHash estimator:
    P[sig_i(A) == sig_i(B)] = Jaccard(A, B)."""
    agg_cols = _imh_agg_cols()
    sh = shingle_arrays(docs).where(F.size("shingles") > 0)
    ex = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id",
        F.xxhash64("s").bitwiseAND(F.lit(0xFFFFFFFF)).alias("x"),
    )
    mins = ex.groupBy("doc_id").agg(*agg_cols)
    return mins.select("doc_id", _IMH_EXPR_CACHE["sig_array"])


def _band_rows(sig_df: DataFrame) -> DataFrame:
    """Explode a signature frame into (band, key, doc_id) LSH bucket rows:
    key = xxhash64 of the band's r signature components."""
    if "bands" not in _IMH_EXPR_CACHE:
        r = _IMH_K // _IMH_BANDS
        _IMH_EXPR_CACHE["bands"] = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.lit(i), *[F.col("sig")[i * r + j] for j in range(r)]
                        ).alias("key"),
                    )
                    for i in range(_IMH_BANDS)
                ]
            )
        ).alias("bk")
    return sig_df.select("doc_id", _IMH_EXPR_CACHE["bands"]).select(
        "bk.band", "bk.key", "doc_id"
    )


def _est_jaccard(sig_a, sig_b) -> F.Column:
    """Signature-estimated Jaccard: fraction of equal components.
    The built Column is cached per (sig_a, sig_b) name pair — the
    higher-order-function lambdas are the chattiest py4j constructs in
    the replay loop (see _IMH_EXPR_CACHE)."""
    key = ("estj", str(sig_a), str(sig_b))
    if key not in _IMH_EXPR_CACHE:
        _IMH_EXPR_CACHE[key] = F.aggregate(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(_IMH_K)
    return _IMH_EXPR_CACHE[key]


def reject_unsigned_substore(store_path: str) -> None:
    """Fail loudly on a MinHash store in the round-14 layout, whose
    unshingleable survivors live in a separate ``unsigned/`` sub-store.
    Today's readers take every survivor from ``signatures/`` (sig = NULL
    for unsigned docs), so reading the old layout would silently drop
    those survivors; the store must be migrated or rebuilt first."""
    import os

    if os.path.isdir(f"{store_path}/unsigned"):
        raise ValueError(
            f"MinHash store {store_path!r} has the round-14 layout: its "
            "unsigned/ sub-store holds survivors this reader would drop. "
            "Move those rows into signatures/ with sig = NULL, or rebuild "
            "the store."
        )


def incremental_dedup_minhash(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    batch_id: str | None = None,
    threshold: float = 0.6,
    prior_state: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental NEAR-dedup against a persistent MinHash signature store —
    the near-dup twin of ``incremental_dedup``: each ingest batch drops
    documents whose estimated Jaccard similarity to ANY earlier document
    (or to a smaller-id document in the same batch) is >= ``threshold``,
    WITHOUT rereading historical text.

    Store layout under ``store_path``, both partitioned by ``batch_id``:
      * ``signatures/`` — (doc_id, sig array<long>[64]): ~512 B/doc, so a
        100 TB corpus's signature store is ~0.5 TB — the only state the
        history side ever ships. sig IS NULL marks unshingleable short
        docs (round 15 fused commit): they are survivors with no
        signature, carry no band rows, and can never match anything;
      * ``bands/`` — (band, key, doc_id): 16 LSH bucket rows per doc. The
        new batch's band rows join these on (band, key), so candidate
        generation shuffles bucket keys, never signatures — signatures are
        joined in candidate-sized, afterward.

    Pipeline per batch: signatures → band rows → (1) intra-batch
    candidates via band self-join, drop any doc with a smaller-id
    candidate at est-Jaccard >= threshold (greedy min-id survivor, the
    same rule family as the exact path's min-per-hash-group); (2) history
    candidates via band join against every OTHER batch's bands, est-Jaccard
    vs the stored signatures, drop matches; (3) commit survivors' bands +
    signatures by OVERWRITING only this batch's partitions — the same
    retry-idempotence contract as ``incremental_dedup`` (a crashed or
    replayed batch with the same ``batch_id`` recomputes identical
    survivors and replaces, not duplicates, its partitions).

    With 16 bands × 4 rows, P(candidate | jaccard=0.6) ≈ 0.89 and ≈ 0.999
    at 0.8 — recall vs exact Jaccard is measured in
    tests/test_incremental_dedup.py. Only SURVIVORS' signatures enter the
    store (dups point to an already-stored near-identical signature).

    ``prior_state`` (round 14, VERDICT r13 #3): an optional
    (prior_bands, prior_sigs) pair — (band, key, old_id) and
    (old_id, sig_old) frames holding EVERY committed batch except
    ``batch_id``. A long-running ingest loop that already has the
    previous batches' survivor frames in hand (e.g. the read-back frames
    this function returns state for) passes them here and skips the
    store-wide parquet listing + read per batch; the store on disk stays
    the durable source of truth and ``None`` (the default) reads it."""
    import os

    reject_unsigned_substore(store_path)

    def _existing_batches() -> list[str]:
        d = f"{store_path}/bands"
        if not os.path.isdir(d):
            return []
        return sorted(
            p.split("=", 1)[1] for p in os.listdir(d) if p.startswith("batch_id=")
        )

    batches = _existing_batches()
    if batch_id is None:
        batch_id = f"b{len(batches):06d}"
        while batch_id in batches:
            batch_id = f"b{int(batch_id[1:]) + 1:06d}"
    if "/" in batch_id or "=" in batch_id:
        raise ValueError(f"batch_id must not contain '/' or '=': {batch_id!r}")

    sigs = minhash_signatures(new_docs).localCheckpoint(eager=True)
    bands = _band_rows(sigs)

    # resolve the history side (explicit prior_state / store read / none)
    history = [b for b in batches if b != batch_id]
    if prior_state is not None:
        prior_bands, prior_sigs = prior_state
    elif history:
        prior_bands = (
            spark.read.parquet(f"{store_path}/bands")
            .where(F.col("batch_id") != batch_id)
            .select("band", "key", F.col("doc_id").alias("old_id"))
        )
        prior_sigs = (
            spark.read.parquet(f"{store_path}/signatures")
            .where(F.col("batch_id") != batch_id)
            # sig IS NULL marks unsigned short docs (fused commit): they
            # carry no bands, so they can never be candidates — keep them
            # out of the partner union entirely
            .where(F.col("sig").isNotNull())
            .select(F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_old"))
        )
    else:
        prior_bands = prior_sigs = None

    # UNIFIED candidate generation + verify (round 14, VERDICT r13 #3):
    # a new doc d drops iff SOME partner p has est-Jaccard >= threshold,
    # where p is either a smaller-id batch-mate (the intra-batch greedy
    # min-id survivor rule) or ANY committed doc (the history rule).
    # Partner band rows union the batch's own rows (own=true, the p < d
    # condition applied post-join) with the store's; partner signatures
    # union the same way. ONE band join + ONE signature verify replaces
    # the former two-phase form's two of each — half the shuffle rounds
    # per batch, identical survivor set (history dups were formerly
    # checked only for intra survivors, but a doc dropped by both rules
    # drops either way; the extra verified pairs are candidate-sized).
    partner_bands = bands.select(
        "band", "key", F.col("doc_id").alias("pid"), F.lit(True).alias("own")
    )
    partner_sigs = sigs.select(
        F.col("doc_id").alias("pid"), F.col("sig").alias("sig_p")
    )
    if prior_bands is not None:
        partner_bands = partner_bands.unionAll(
            prior_bands.select(
                "band", "key", F.col("old_id").alias("pid"),
                F.lit(False).alias("own"),
            )
        )
        partner_sigs = partner_sigs.unionAll(
            prior_sigs.select(
                F.col("old_id").alias("pid"), F.col("sig_old").alias("sig_p")
            )
        )
    cand = (
        bands.join(partner_bands, ["band", "key"])
        .where((~F.col("own")) | (F.col("pid") < F.col("doc_id")))
        .select("doc_id", "pid")
        .distinct()
    )
    dups = (
        cand.join(sigs, "doc_id")
        .join(partner_sigs, "pid")
        .where(_est_jaccard(F.col("sig"), F.col("sig_p")) >= threshold)
        .select("doc_id")
        .distinct()
    )
    survivors = sigs.join(dups, "doc_id", "left_anti")
    # Documents too short to carry a 3-gram shingle (< 3 whitespace
    # tokens, or null/empty text) produce NO signature, so they appear in
    # neither the candidate machinery nor the band store. Under the
    # 3-gram Jaccard definition they cannot be near-duplicates of
    # anything, so they must SURVIVE (round-6 ADVICE fix; previously they
    # silently vanished from the output), and they must survive DURABLY
    # (round-7 ADVICE fix: the streaming composition's foreachBatch
    # discards this function's return value and later reads THE STORE).
    unsigned = new_docs.select("doc_id").join(
        sigs.select("doc_id"), "doc_id", "left_anti"
    )
    # (3) FUSED commit (round 15, VERDICT r14 #7): survivors and
    # unsigned short docs commit in ONE write to this batch's
    # signatures/ partition — unsigned rows carry sig = NULL (they have
    # no signature by definition; band rows are built from non-null sigs
    # only, so nothing can ever match them). This replaces the former
    # separate unsigned/ sub-store, its per-batch write job, and the
    # thread that overlapped it with the bands commit. The commit write
    # IS the materializing job (round 14, VERDICT r13 #3), it overwrites
    # ONLY this batch's partition directory (same retry-idempotence
    # contract), and the read-back serves every downstream use from the
    # tiny just-written parquet (an all-dup batch still reads back fine:
    # Spark writes a schema-bearing part file for an empty frame).
    committed = survivors.select("doc_id", "sig").unionAll(
        unsigned.select("doc_id", F.lit(None).cast("array<long>").alias("sig"))
    )
    sig_dir = f"{store_path}/signatures/batch_id={batch_id}"
    committed.write.mode("overwrite").parquet(sig_dir)
    committed = spark.read.parquet(sig_dir)
    _band_rows(committed.where(F.col("sig").isNotNull())).write.mode(
        "overwrite"
    ).parquet(f"{store_path}/bands/batch_id={batch_id}")
    return committed.select("doc_id")


_INC_MH_CAP = 1500  # registered-demo bound: ids below this ingest


# rows-only by nature: the survivor set depends on banded MinHash
# SIGNATURE ESTIMATES of Jaccard (64 seeded hash permutations, 16x4
# banding), not on any ANSI-SQL-computable predicate — a SQL oracle
# would have to re-implement the hash family. The semantics are gated
# instead by tests/test_incremental_dedup.py (pair-recall vs exact
# Jaccard, retry idempotence, cross-batch history) and the streaming
# twin's equality tests; see COVERAGE.md.
@REG.register("incremental_dedup_minhash")
def incremental_dedup_minhash_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver key (round 7, VERDICT r6 directive #7) for the
    persistent-store near-dedup API: a bounded slice of the documents
    table ingests as THREE sequential batches (ascending doc_id ranges)
    against a fresh signature store — batch 2 and 3 each dedup against
    all committed history via the banded candidate join, never rereading
    historical text — and the store's final survivor set (signatures ∪
    unsigned short docs) is returned."""
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("doc_id") < _INC_MH_CAP)
    ).select("doc_id", "text")
    cuts = docs.approxQuantile("doc_id", [1 / 3, 2 / 3], 0.0)
    if not cuts:
        return spark.createDataFrame([], "doc_id long")
    store = tempfile.mkdtemp(prefix="inc_mh_store_")
    # the banding joins run per ~500-doc batch: 32 shuffle partitions is
    # pure task-setup overhead at that size (measured 20 s -> 12 s for
    # the 3-batch loop at 4). A production ingest sizes this to batch
    # cardinality the same way; the API itself inherits session conf.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        bounds = [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
        # thread the committed batches' read-back frames forward as
        # prior_state (round 14, VERDICT r13 #3): each batch's history
        # side is then a lazy union of per-batch parquet scans instead
        # of a store-wide listing + partition-discovery read per batch
        prior_bands = prior_sigs = None
        batch_outs: list[DataFrame] = []
        for i, (lo, hi) in enumerate(bounds):
            part = docs
            if lo is not None:
                part = part.where(F.col("doc_id") > lo)
            if hi is not None:
                part = part.where(F.col("doc_id") <= hi)
            bid = f"b{i:06d}"
            batch_outs.append(
                incremental_dedup_minhash(
                    spark,
                    part,
                    store,
                    batch_id=bid,
                    prior_state=(
                        (prior_bands, prior_sigs)
                        if prior_bands is not None
                        else None
                    ),
                )
            )
            bsig = (
                spark.read.parquet(f"{store}/signatures/batch_id={bid}")
                .where(F.col("sig").isNotNull())  # fused commit: NULL = unsigned
                .select(F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_old"))
            )
            bband = spark.read.parquet(f"{store}/bands/batch_id={bid}").select(
                "band", "key", F.col("doc_id").alias("old_id")
            )
            prior_sigs = bsig if prior_sigs is None else prior_sigs.unionAll(bsig)
            prior_bands = (
                bband if prior_bands is None else prior_bands.unionAll(bband)
            )
        # final survivor set = the union of the per-batch returns, each a
        # lazy read-back of that batch's just-committed partitions (round
        # 14 session 2): the store-wide listing + partition-discovery
        # reads of signatures/ and unsigned/ were redundant — the loop
        # already holds every batch's read-back frame. The store on disk
        # stays the durable source of truth; this replay just skips
        # re-discovering what it wrote moments ago.
        out = batch_outs[0]
        for nxt in batch_outs[1:]:
            out = out.unionAll(nxt)
        return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(store, ignore_errors=True)


_SPAN_L = 30  # duplicated-substring window length (chars)

_DUP_SPANS_ORACLE = f"""
WITH grams AS (
  SELECT doc_id,
         CAST(gs.pos AS BIGINT) AS pos,
         substr(text, CAST(gs.pos AS INTEGER), {_SPAN_L}) AS gram
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - {_SPAN_L} + 1))
                AS pos) gs
  WHERE len(text) >= {_SPAN_L}),
dup AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_SPAN_L} OR
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              THEN 1 ELSE 0 END AS new_island
  FROM hits),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_SPAN_L} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) + {_SPAN_L} - MIN(pos) AS BIGINT) AS span_len
FROM islands
GROUP BY doc_id, island
"""


def _span_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, gh) — every 30-char window's position and 8-byte
    xxhash64. Split out so tests/test_plans.py can audit the
    pre-checkpoint plan: the exchange must carry the hash, never the gram
    string."""
    # spread before the per-char explode: a single-split corpus would
    # otherwise build (and checkpoint) ~len(text) gram rows per doc on
    # ONE core (round-14 grain lesson; pipeline+ckpt 15.1 -> 7.8 s cold,
    # 4.6 -> 3.2 s warm at sf0.1). The doc-level exchange carries text
    # once; the gram exchange still carries only the 8-byte hash.
    docs = spread(
        spark,
        load_table(spark, sf_dir, "documents").where(F.length("text") >= _SPAN_L),
    )
    return docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - _SPAN_L + 1)
        ).alias("pos"),
        "text",
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        # shuffle the 8-byte hash, never the 30-char gram string (~4x less
        # shuffle; a cross-doc xxhash64 collision would need ~2^32 grams
        # to become likely — negligible against the DuckDB string-exact
        # oracle at test scales, and at 100 TB the hash key is the only
        # viable choice anyway)
        F.xxhash64(F.substring("text", F.col("pos"), F.lit(_SPAN_L))).alias("gh"),
    )


@REG.register("dedup_duplicate_spans", oracle=_DUP_SPANS_ORACLE)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SUBSTRING detection (round 5) — the span-level
    dedup of Lee et al.'s "Deduplicating Training Data Makes Language
    Models Better", relationally: find every maximal region of a document
    whose every 30-char window also appears in ANOTHER document
    (boilerplate headers, license blocks, syndicated passages — the
    duplication document-level hashes can't see).

    Plan: one ``sequence``/``substring`` explode per doc (JVM, no
    Python), a gram aggregate keeping grams with >= 2 distinct docs, a
    semi-join back onto the gram positions, then gaps-and-islands (lag +
    running sum) merges overlapping windows into maximal spans
    (adjacent/overlapping = next_pos <= prev_pos + L). Output
    (doc_id, span_start, span_end, span_len), 1-based inclusive.

    Scale: the gram explode is the cost — ~len(text) rows/doc. At 100 TB
    run it with (a) a stride >1 for candidate discovery + exact re-scan
    of candidate neighborhoods, and (b) a Bloom/CMS prefilter of
    singleton grams (cf. bloom_semi_join_prune) so the shuffle carries
    only repeated grams; both drop in without changing these semantics.
    The groupBy ships (hash, doc_id) pairs, never text."""
    # the gram frame feeds BOTH the dup aggregate and the semi-join
    # probe; one materialization per CALL avoids the double text explode
    # (measured 4.7 -> 3.3 s at sf0.1). Round 15 (VERDICT r14 #1): no
    # cross-call memo — the gram build is part of the declared
    # computation (the oracle re-explodes the text on every check).
    grams = _span_grams(spark, sf_dir).localCheckpoint(eager=True)
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gh")
    )
    hits = grams.join(dup, "gh", "leftsemi").select("doc_id", "pos")
    return _span_islands(hits)


def _span_islands(hits: DataFrame) -> DataFrame:
    """Gaps-and-islands over exact duplicated-window hit positions: lag +
    running sum merges overlapping/adjacent windows (next <= prev + L)
    into maximal (doc_id, span_start, span_end, span_len) spans — shared
    by the full-scan and strided operators, whose hit sets are equal."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > _SPAN_L),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + _SPAN_L - 1).alias("span_end"),
        (F.max("pos") + _SPAN_L - F.min("pos")).alias("span_len"),
    ).select("doc_id", "span_start", "span_end", "span_len")


_SPAN_STRIDE = 4

# discovery frames built fresh per call (round 15, VERDICT r14 #1: the
# r14 memo let measured bench runs skip the seed/bloom/rescan build the
# oracle recomputes); the checkpoints below are intra-call only — the
# discovery frames feed multiple downstream consumers within one call


def dup_spans_strided_frames(
    spark: SparkSession,
    sf_dir: str,
    stride: int = _SPAN_STRIDE,
    n_bloom_segments: int = 1,
) -> dict[str, DataFrame]:
    """Intermediate frames of the strided span-dedup pipeline (round 6) —
    exposed so tests can count the rows each shuffle carries and assert
    the scale claim (the prefiltered join inputs are a fraction of the
    full gram table the plain operator shuffles).

    Discovery uses SHORTER seeds of length m = L - stride + 1 so the
    stride cannot miss an alignment: if an L-window at position p in doc
    A also occurs at p' in doc B, then B's strided seed at the unique
    q_B ≡ 1 (mod stride) in [p', p'+stride) lies inside B's window, and
    the SAME m-substring occurs in A at a = p + (q_B - p') ∈ [p, p+stride)
    — a full-side seed row. So every occurrence of every duplicated
    L-window produces at least one (full-seed ⋈ strided-seed, different
    doc) match within stride of its start, and the exact re-scan of
    [a - stride + 1, a] neighborhoods recovers the true hit set exactly:
    all occurrences of a duplicated L-gram land in the re-scan frame, so
    its ≥2-distinct-doc counts equal the global counts.
    """
    from .sketches import bloom_contains_udf, build_bloom

    if not 2 <= stride <= _SPAN_L:
        raise ValueError(f"stride must be in [2, {_SPAN_L}], got {stride}")
    if n_bloom_segments < 1:
        raise ValueError("n_bloom_segments must be >= 1")
    m = _SPAN_L - stride + 1
    # the seed explode amplifies ~len(text) rows per doc; spread the docs
    # across all slots FIRST so the (cheap, pre-amplification) shuffle of
    # raw text buys parallel explode/hash/bloom stages — a 1-file corpus
    # otherwise runs the whole pipeline on one core (conditional: a
    # many-split corpus at scale keeps its grain, no shuffle)
    docs = spread(
        spark,
        load_table(spark, sf_dir, "documents").where(F.length("text") >= _SPAN_L),
    ).localCheckpoint(eager=True)  # scanned by discovery AND re-scan
    seeds = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - m + 1)).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "pos",
        F.xxhash64(F.substring("text", F.col("pos"), F.lit(m))).alias("mh"),
    )
    # 1/stride of the seed rows; checkpointed because it feeds BOTH the
    # Bloom build and the discovery join
    strided = seeds.where(F.col("pos") % stride == 1).localCheckpoint(eager=True)

    # Bloom over the strided seed hashes, sized to the corpus: ~16 bits
    # per expected strided seed (3 hashes -> FP well under 1%). The build
    # is the distributed mergeable bitset from operators/sketches.py; at
    # 100 TB the bitset is corpus-proportional, so run the operator per
    # ingest shard / date partition (where the strided-seed count keeps
    # the bitset broadcastable) — the output is per-corpus-segment spans
    # either way, and segments can be unioned.
    n_est = max(1, strided.count())  # cheap: counts the checkpointed frame
    n_bits = 1 << 17
    while n_bits * n_bloom_segments < 16 * n_est:
        n_bits <<= 1

    # The Bloom bitset is corpus-proportional (16 bits per strided seed),
    # so at petabyte scale one bitset stops being broadcastable. The fix
    # is EXACT hash-space segmentation (round 6): a seed's matches share
    # its mh by definition, so partitioning BOTH sides by mh % S and
    # prefiltering each slice with its own 1/S-sized bitset loses
    # nothing — choose S so n_bits fits the broadcast budget. S=1 is the
    # single-bitset fast path; segmented-vs-unsegmented equality is
    # asserted in tests/test_dedup_quality.py.
    def _segment_candidates(seg: int) -> DataFrame:
        s_strided = strided
        s_seeds = seeds
        if n_bloom_segments > 1:
            s_strided = strided.where(
                F.pmod(F.col("mh"), F.lit(n_bloom_segments)) == seg
            )
            s_seeds = seeds.where(
                F.pmod(F.col("mh"), F.lit(n_bloom_segments)) == seg
            )
        # cap the build fan-in: driver traffic is P x n_bits/8 bytes, so
        # fold the checkpointed seeds into few partitions before
        # sketching (bitsets OR-merge; bounded collect beats scan
        # parallelism at this size)
        bloom = build_bloom(s_strided.coalesce(8), "mh", n_bits=n_bits)
        maybe_strided = bloom_contains_udf(bloom, n_bits=n_bits)
        # map-side prefilter: only full-side seeds whose hash might be a
        # strided seed somewhere reach the discovery join's exchange
        pref = s_seeds.where(maybe_strided(F.col("mh")))
        cand = pref.alias("f").join(
            s_strided.select(F.col("doc_id").alias("sdoc"), "mh").alias("s"),
            "mh",
        ).where(F.col("f.doc_id") != F.col("sdoc")).select(
            F.col("f.doc_id").alias("doc_id"), F.col("f.pos").alias("pos")
        )
        return pref, cand

    prefiltered, candidates = _segment_candidates(0)
    for seg in range(1, n_bloom_segments):
        pref_s, cand_s = _segment_candidates(seg)
        prefiltered = prefiltered.unionAll(pref_s)
        candidates = candidates.unionAll(cand_s)

    # exact re-scan: every true L-window hit starts within stride of a
    # candidate seed, so re-hash only [pos - stride + 1, pos] per
    # candidate (per-doc position sets are at most doc-length sized)
    nbr = candidates.select(
        "doc_id",
        F.explode(
            F.sequence(F.greatest(F.col("pos") - stride + 1, F.lit(1)), F.col("pos"))
        ).alias("p"),
    ).distinct()
    nbr_by_doc = nbr.groupBy("doc_id").agg(F.collect_set("p").alias("ps"))
    rescan = (
        docs.join(nbr_by_doc, "doc_id")
        .select("doc_id", F.explode("ps").alias("p"), "text")
        .where(F.col("p") <= F.length("text") - _SPAN_L + 1)
        .select(
            "doc_id",
            F.col("p").cast("long").alias("pos"),
            F.xxhash64(F.substring("text", F.col("p"), F.lit(_SPAN_L))).alias("gh"),
        )
        .localCheckpoint(eager=True)  # feeds the dup agg AND the semi-join
    )
    dup = (
        rescan.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gh")
    )
    hits = rescan.join(dup, "gh", "leftsemi").select("doc_id", "pos")
    frames = {
        "seeds": seeds,
        "strided": strided,
        "prefiltered": prefiltered,
        "candidates": candidates,
        "rescan": rescan,
        "result": _span_islands(hits),
    }
    return frames


@REG.register("dedup_duplicate_spans_strided", oracle=_DUP_SPANS_ORACLE)
def dedup_duplicate_spans_strided(
    spark: SparkSession, sf_dir: str, stride: int = _SPAN_STRIDE
) -> DataFrame:
    """The 100 TB mode of ``dedup_duplicate_spans`` (round 6, closing the
    r5 docstring promise): stride-s candidate discovery + Bloom singleton
    prefilter + exact re-scan of candidate neighborhoods. Same output,
    same oracle — the full-scan twin shuffles EVERY gram row into its
    duplicate aggregate, while this plan shuffles (a) the 1/stride
    strided-seed rows and (b) only the Bloom-surviving full-side seed
    rows (duplicated seeds + bounded false positives), then re-hashes
    L-grams only inside candidate neighborhoods — candidate-sized, not
    corpus-sized. Equality vs the full scan and the shuffled-row ratio
    are asserted in tests/test_dedup_quality.py; the alignment-safety
    proof is in ``dup_spans_strided_frames``."""
    return dup_spans_strided_frames(spark, sf_dir, stride)["result"]


@REG.register("dedup_minhash_fast")  # rows-only: min-wise hashing is seeded/approximate
def dedup_minhash_fast(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """All-JVM MinHash near-dup candidate pairs (round 6) — the
    production twin of `dedup_minhash`: the same k=64 min-wise signature
    + 16×4 LSH banding machinery the incremental store uses
    (`minhash_signatures` / `_band_rows`), run as a batch self-join.
    No Spark ML fit, no Python anywhere: shingle → xxhash64 → 64
    universal-hash MIN aggregates (map-side combined, the shuffle
    carries 64 longs per doc per partition), band-bucket self-join on
    the 8-byte band key (candidate-sized, never n²), then
    signature-estimated Jaccard ≥ threshold.

    Same scale shape as the ML-backed twin but cheaper constants (the
    signature agg replaces HashingTF + MinHashLSH model fit and the
    2^18-dim sparse vectors never exist). Output (id_a, id_b,
    est_jaccard); pair-recall vs exact shingle Jaccard pinned in
    tests/test_dedup_quality.py next to the ML twin's."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # checkpointed per CALL: the band join is a SELF-join and the
    # signatures feed the est-Jaccard verify twice (round 15: no
    # cross-call memo of corpus-derived work, VERDICT r14 #1)
    sigs = minhash_signatures(docs).localCheckpoint(eager=True)
    bands = _band_rows(sigs)
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), ["band", "key"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = _est_jaccard(F.col("sig_a"), F.col("sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# Shared CLUSTER-stage pair graphs: `dedup_cluster_best_quality` and
# traindata's `split_assign_cluster_safe` both walk the SAME
# exact-Jaccard pair graph, and the two minhash-cluster keys walk the
# SAME banded-MinHash pair graph — these helpers keep that equality
# provable in one place. Round 15 (VERDICT r14 #1): the r14
# per-(applicationId, sf_dir) memo is GONE — the pair-graph derivation
# is part of each consumer key's declared computation (the oracle
# recomputes it on every check), so every call re-derives it from the
# parquet inputs. The eager checkpoint stays per call: the pair frame
# feeds the CC kernel's per-round joins.


def _jaccard_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eager-checkpointed (id_a, id_b) exact 3-gram-Jaccard (>= 0.5) pair
    graph — fresh per call."""
    return (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )


def _minhash_pairs_shared(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Eager-checkpointed (id_a, id_b) banded-MinHash pair graph at
    ``threshold`` — fresh per call."""
    return (
        dedup_minhash_fast(spark, sf_dir, threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )


def _cluster_labels(
    spark: SparkSession, sf_dir: str, pairs: DataFrame, kernel: str = "hashmin"
) -> DataFrame:
    """Transitive-closure cluster labels over a candidate pair frame
    (id_a, id_b) — the ONE labeling convention every CC consumer shares
    (round-10 refactor: `dedup_minhash_clusters`,
    `dedup_cluster_best_quality`, and traindata's
    `split_assign_cluster_safe` previously each carried a copy of this
    block; a labeling change applied to one copy would silently
    desynchronize split assignment from survivor selection). Symmetrize,
    run the selected CC kernel ("hashmin" default; "twostar" for
    unknown-diameter graphs), left-join the doc-id spine so documents
    with no candidate pair label themselves. Output (doc_id, cluster_id),
    cluster_id = min member id."""
    from .graph import _hash_min_cc, _two_star_cc

    und = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionAll(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    if kernel == "hashmin":
        comp = _hash_min_cc(und)
    elif kernel == "twostar":
        comp, _rounds = _two_star_cc(und)
    else:
        raise ValueError(f"unknown CC kernel {kernel!r}: use 'hashmin' or 'twostar'")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(comp, docs["doc_id"] == comp["id"], "left").select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).cast("long").alias("cluster_id"),
    )


# rows-only: the pair graph is seeded MinHash (xxhash64 + universal-hash
# permutations, not ANSI-SQL-expressible); the CLUSTER step on top of it is
# equality-locked instead — tests/test_dedup_clusters.py recomputes the
# transitive closure of the Spark-emitted pair graph with a pure-Python
# union-find and asserts label-for-label agreement, plus min-id canonical
# uniqueness. The CC iteration itself is the DuckDB-recursive-CTE-oracled
# `graph_connected_components` / `dedup_transitive` machinery.
@REG.register("dedup_minhash_clusters")
def dedup_minhash_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    kernel: str = "hashmin",
) -> DataFrame:
    """Near-duplicate CLUSTERING — the canonical-pick stage a 100 TB
    corpus dedup runs after candidate generation (the consumer that
    graph.py's connected-components comment promises): hash-min connected
    components over the MinHash candidate-pair graph
    (`dedup_minhash_fast`, k=64 signatures, 16x4 LSH bands), then one
    canonical document per cluster by min doc_id.

    Output: (doc_id, cluster_id, is_canonical) for EVERY document —
    documents with no near-dup candidate (or no shingles) are their own
    singleton cluster and canonical; a downstream `WHERE is_canonical`
    is the full near-dedup filter, keeping exactly one representative
    per transitive near-dup group (A~B, B~C => one survivor of {A,B,C}).

    Scale shape: the pair graph is candidate-sized (banded LSH, never
    n²); `_hash_min_cc` runs one edge-sized equi-join + one node-sized
    min-agg per round for O(cluster diameter) rounds — near-dup clusters
    are short-diameter (dup groups, not web chains), so this converges
    in a handful of rounds; the final singleton fill-in is one left join
    against the doc-id spine. The reference has no dedup at all
    (SURVEY §2.9 north-star scope).

    `kernel` selects the CC iteration (round 10, VERDICT r9 #2):
    "hashmin" (default — cheapest on the short-diameter graphs near-dup
    clustering produces) or "twostar" (Kiveris et al. large-star/
    small-star, graph.py — diameter-INDEPENDENT round bound: the kernel
    to pass on an unknown corpus where boilerplate or templated text can
    chain candidates into long paths that would cost hash-min one round
    per hop). Both kernels produce identical labels
    (tests/test_dedup_clusters.py parametrizes the union-find equality
    lock over both)."""
    pairs = _minhash_pairs_shared(spark, sf_dir, threshold)
    labeled = _cluster_labels(spark, sf_dir, pairs, kernel=kernel)
    return labeled.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@REG.register("dedup_duplicate_spans_segmented", oracle=_DUP_SPANS_ORACLE)
def dedup_duplicate_spans_segmented(
    spark: SparkSession,
    sf_dir: str,
    stride: int = _SPAN_STRIDE,
    n_bloom_segments: int = 3,
) -> DataFrame:
    """The petabyte form of the strided span dedup (round 6, closing the
    bitset-size caveat): the Bloom prefilter is hash-space SEGMENTED —
    both seed sides partition by mh % S and each slice gets its own
    1/S-sized bitset, so the broadcast budget bounds S, not the corpus.
    Exact by construction (a seed's matches share its hash, so no
    cross-slice pair exists); same output, same oracle as the full scan
    and the single-bitset strided mode — all three equality-asserted in
    tests/test_dedup_quality.py."""
    return dup_spans_strided_frames(
        spark, sf_dir, stride, n_bloom_segments=n_bloom_segments
    )["result"]


_BOILER_W = 2  # tokens per synthetic "line" (aligned chunks)
_BOILER_K = 3  # boilerplate threshold: appears in >= K docs of a source

_BOILERPLATE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source,
         unnest(string_split(text, ' ')) AS t,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS ord
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
lines AS (
  SELECT doc_id, source, (ord - 1) // {_BOILER_W} AS line_no,
         string_agg(t, ' ' ORDER BY ord) AS line
  FROM tok GROUP BY doc_id, source, (ord - 1) // {_BOILER_W}),
df AS (
  SELECT source, line, COUNT(DISTINCT doc_id) AS nd
  FROM lines GROUP BY source, line),
flagged AS (
  SELECT l.doc_id, l.line_no, l.line, d.nd >= {_BOILER_K} AS boiler
  FROM lines l JOIN df d ON l.source = d.source AND l.line = d.line)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       string_agg(CASE WHEN NOT boiler THEN line END, ' ' ORDER BY line_no)
         AS clean_text
FROM flagged GROUP BY doc_id
"""


@REG.register("dedup_boilerplate_lines", oracle=_BOILERPLATE_ORACLE)
def dedup_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style CROSS-document boilerplate removal (round 7): drop
    every line that appears in >= 3 distinct documents of the SAME
    source (nav menus, footers, scraped pagination — the shared-line
    signal `quality_dup_line_fraction` measures only WITHIN one doc).
    The synthetic corpus is single-line, so "lines" are aligned
    2-token chunks — the plan is identical for real newline-split
    lines (swap the chunker for split('\\n')).

    Plan: tokenize-explode → per-(doc, chunk) ordered re-agg → the
    line-frequency table groupBy(source, line) COUNT(DISTINCT doc_id)
    → join back → per-doc reconstruction of the surviving text in line
    order. Every aggregation is map-side partial; the frequency join is
    keyed (source, line) on both sides so it shuffles once. At 100 TB
    the frequency table carries (source, line-HASH) instead of line
    strings (~16 B/line, the incremental-dedup store trick) and becomes
    a broadcast after the >= K filter — boilerplate tables are tiny by
    definition (the oracle keeps the string form for exactness at test
    SF). `clean_text` is NULL when every line was boilerplate, matching
    SQL string_agg-over-no-rows semantics."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    tok = docs.select(
        "doc_id", "source",
        F.posexplode(F.split("text", " ", -1)).alias("pos", "t"),
    )
    lines = (
        tok.withColumn("line_no", (F.col("pos") / _BOILER_W).cast("long"))
        .groupBy("doc_id", "source", "line_no")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "t"))).alias("o"))
        .select(
            "doc_id", "source", "line_no",
            F.concat_ws(" ", F.transform("o", lambda x: x.t)).alias("line"),
        )
    )
    freq = lines.groupBy("source", "line").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    flagged = lines.join(freq, ["source", "line"]).withColumn(
        "boiler", F.col("nd") >= _BOILER_K
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(~F.col("boiler"), F.struct("line_no", "line"))
        )
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("boiler").cast("int")).cast("long").alias("n_boiler"),
            kept.alias("k"),
        )
        .select(
            "doc_id", "n_lines", "n_boiler",
            F.when(
                F.size("k") > 0,
                F.concat_ws(" ", F.transform("k", lambda x: x.line)),
            ).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Round 10: the two dedup axes still uncovered after r9 — ASYMMETRIC
# containment (subset-duplicates that symmetric Jaccard structurally
# misses) and QUALITY-AWARE survivor selection (real pipelines keep the
# best cluster member, not the smallest id).
# ---------------------------------------------------------------------------

# The lang-blocked distinct-trigram pair machinery, as a reusable CTE
# block (round 10): shared verbatim by the containment, best-quality, and
# split-assignment oracles so the three stay keyed to the IDENTICAL pair
# graph as `dedup_ngram_jaccard`'s committed oracle.
NGRAM_PAIR_CTES = """toks AS (
  SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS l FROM documents),
sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(generate_series(1, len(l) - 2),
                                      i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS shingles
  FROM toks WHERE len(l) >= 3),
ex AS (SELECT doc_id, lang, unnest(shingles) AS s, len(shingles) AS n FROM sh),
exj AS (
  SELECT * FROM (
    SELECT ex.*, COUNT(*) OVER (PARTITION BY s, lang) AS df FROM ex)
  WHERE df <= 100),
common AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         any_value(a.n) AS n_a, any_value(b.n) AS n_b
  FROM exj a JOIN exj b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)"""

# the recursive min-reachable-id closure over the >= 0.5 Jaccard pairs,
# shared by the best-quality and split-assignment oracles
NGRAM_CLUSTER_CTES = (
    NGRAM_PAIR_CTES
    + """,
pairs AS (
  SELECT ia, ib FROM common
  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5),
undirected AS (SELECT ia AS u, ib AS v FROM pairs UNION SELECT ib, ia FROM pairs),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT u.u AS doc_id, reach.r
  FROM undirected u JOIN reach ON u.v = reach.doc_id),
labels AS (
  SELECT doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id FROM reach GROUP BY doc_id)"""
)

_CONTAINMENT_ORACLE = f"""
WITH {NGRAM_PAIR_CTES},
directed AS (
  SELECT ia AS id_a, ib AS id_b, n_common, n_a AS n_self FROM common
  UNION ALL
  SELECT ib AS id_a, ia AS id_b, n_common, n_b AS n_self FROM common)
SELECT id_a, id_b,
       round(CAST(n_common AS DOUBLE) / n_self, 6) AS containment
FROM directed
WHERE n_self >= 5 AND CAST(n_common AS DOUBLE) / n_self >= 0.8
"""


@REG.register("dedup_shingle_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment C(a,b) = |S(a) ∩ S(b)| / |S(a)| ≥ 0.8
    — the subset-duplicate detector: a short document quoted or wrapped
    inside a longer one has high containment in it but low symmetric
    Jaccard (the union is dominated by the long doc), so every
    Jaccard-family key in this module misses that pair class by
    construction (Broder 1997 distinguishes resemblance vs containment for
    exactly this reason). In a 100 TB corpus this is the boilerplate-
    wrapper / quoted-reply / excerpt case.

    Plan: the shared `_ngram_pair_counts` candidate machinery (one Spark
    implementation with `dedup_ngram_jaccard`, mirroring the shared
    NGRAM_PAIR_CTES oracle block — neither side can drift alone), with
    the heavy shingle self-join computed ONCE over unordered pairs; both
    directed containments are then derived from that candidate-sized
    frame. n_self ≥ 5 drops trivially-tiny shingle sets whose containment
    is noise. Output: (id_a, id_b, containment) meaning "a is contained
    in b". Integer counts → the division is bit-identical to the oracle."""
    common = _ngram_pair_counts(load_table(spark, sf_dir, "documents"))
    # both directions from ONE pass over the candidate frame: a unionAll
    # of two selects would duplicate the whole shingle-join subtree in
    # the plan (relying on runtime ReuseExchange to dedup it); explode of
    # a 2-struct array keeps a single subtree by construction
    directed = common.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_a"),
                    F.col("id_b").alias("id_b"),
                    F.col("n_common").alias("n_common"),
                    F.col("n_a").alias("n_self"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.col("n_common").alias("n_common"),
                    F.col("n_b").alias("n_self"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    cont = F.col("n_common").cast("double") / F.col("n_self")
    return directed.where((F.col("n_self") >= 5) & (cont >= 0.8)).select(
        "id_a", "id_b", F.round(cont, 6).alias("containment")
    )


_BEST_QUALITY_ORACLE_TPL = "\nWITH RECURSIVE " + NGRAM_CLUSTER_CTES + """,
qt AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
qm AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, x -> list_contains({stop}, x))) AS BIGINT) AS n_stop,
         CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS BIGINT) AS sum_len
  FROM qt),
q AS (
  SELECT doc_id,
         CAST(CASE WHEN n_tokens >= 10 THEN 0.5 ELSE 0.0 END
              + CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens <= 0.5 THEN 0.3 ELSE 0.0 END
              + CASE WHEN CAST(sum_len AS DOUBLE) / n_tokens >= 3.0 THEN 0.2 ELSE 0.0 END
              AS DOUBLE) AS quality
  FROM qm),
ranked AS (
  SELECT labels.doc_id, labels.cluster_id, q.quality,
         row_number() OVER (PARTITION BY labels.cluster_id
                            ORDER BY q.quality DESC, labels.doc_id) AS rn
  FROM labels JOIN q ON labels.doc_id = q.doc_id)
SELECT doc_id, cluster_id, quality,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_survivor
FROM ranked
"""

# the {stop} hole is the same committed stopword list quality_score's
# oracle uses — the two quality computations must stay bit-identical.
# replace(), not format(): the template embeds the shared CTE blocks, and
# format() would choke at import time on any future brace in them (DuckDB
# struct literals use {...})
_BEST_QUALITY_ORACLE = _BEST_QUALITY_ORACLE_TPL.replace("{stop}", stopwords_sql_list())


@REG.register("dedup_cluster_best_quality", oracle=_BEST_QUALITY_ORACLE)
def dedup_cluster_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical pick — the survivor-selection policy a real
    training-data pipeline runs instead of min-id: transitive near-dup
    clusters over the EXACT 3-gram-Jaccard pair graph
    (`dedup_ngram_jaccard`, fully deterministic), each cluster keeping its
    HIGHEST-`quality_score` member (doc_id ascending as the tie-break, so
    the pick is total-ordered and reproducible). min-id canonicalization
    (`dedup_minhash_clusters`) throws away quality signal: when a clean
    original and a truncated/mangled copy share a cluster, min-id keeps
    whichever was crawled first.

    Plan shape at 100 TB: pair graph from the lang-blocked shingle join
    (candidate-sized, df-capped), `_hash_min_cc` transitive closure
    (edge-sized joins, O(diameter) rounds), one left join against the doc
    spine for singleton fill-in, one broadcast-friendly join to the
    map-side quality scores, one per-cluster window for the argmax. The
    cluster_id is the component's min doc_id — same label convention as
    every CC consumer in this module. Output: (doc_id, cluster_id,
    quality, is_survivor 0/1) for every document; `WHERE is_survivor = 1`
    is the full quality-aware near-dedup filter.

    Oracled end-to-end: the pair graph, the recursive-CTE closure, and
    the quality arithmetic are each the already-oracled formulations
    (dedup_ngram_jaccard / dedup_transitive / quality_score), composed in
    one DuckDB statement."""
    from .text import quality_score

    pairs = _jaccard_pairs_shared(spark, sf_dir)
    labeled = _cluster_labels(spark, sf_dir, pairs)
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    scored = labeled.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return scored.select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).cast("int").alias("is_survivor"),
    )


_CONTAINMENT_FILTER_ORACLE = f"""
WITH {NGRAM_PAIR_CTES},
directed AS (
  SELECT ia AS id_a, ib AS id_b, n_common, n_a AS n_self FROM common
  UNION ALL
  SELECT ib AS id_a, ia AS id_b, n_common, n_b AS n_self FROM common),
contained AS (
  SELECT id_a, id_b FROM directed
  WHERE n_self >= 5 AND CAST(n_common AS DOUBLE) / n_self >= 0.8)
SELECT d.doc_id,
       CAST(CASE WHEN EXISTS (
         SELECT 1 FROM contained c
         JOIN documents h ON h.doc_id = c.id_b
         WHERE c.id_a = d.doc_id
           AND (h.n_chars > d.n_chars
                OR (h.n_chars = d.n_chars AND h.doc_id < d.doc_id))
       ) THEN 0 ELSE 1 END AS INTEGER) AS is_kept
FROM documents d
"""


@REG.register("dedup_containment_filter", oracle=_CONTAINMENT_FILTER_ORACLE)
def dedup_containment_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION on top of `dedup_shingle_containment`: a document
    is dropped when it is ≥ 0.8-contained in a strictly longer document
    (n_chars). Equal lengths tie-break by id: an equal-length containment
    edge drops a doc only when its host has the SMALLER doc_id — so
    MUTUAL containment between equal-length near-identical docs keeps
    exactly one (the smaller id), while a one-directional ≥ 0.8 edge
    whose equal-length host has the larger id drops nothing and both
    survive (round-10 advice: exactly-one is guaranteed only for MUTUAL
    equal-length containment — deliberate policy, stated here).
    This is the subset-duplicate filter a real corpus pipeline runs after
    the detector — the excerpt/quoted-reply/wrapper class contributes no
    novel text when its host survives.

    Policy note (stated, not hidden): "contained in any longer doc", the
    industrial-simple form — NOT "contained in any KEPT doc". A chain
    A ⊂ B ⊂ C with B dropped also drops A; A's content survives in C only
    to the (threshold-compounded) degree containment composes, which is
    the accepted trade for a policy that needs no iteration. The
    iterative keep-set fixpoint would be `_hash_min_cc`-shaped if wanted.

    Scale: the containment pair frame is candidate-sized (df-capped
    shingle join, computed once); the drop decision is one semi-join of
    that frame against the doc spine with a broadcast-friendly length
    lookup — no new quadratic term. Output: (doc_id, is_kept 0/1) for
    every document; `WHERE is_kept = 1` is the filter."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cont = dedup_shingle_containment(spark, sf_dir).select("id_a", "id_b")
    hosts = docs.select(
        F.col("doc_id").alias("id_b"), F.col("n_chars").alias("host_chars")
    )
    # ids with at least one strictly-longer (or equal-length smaller-id)
    # containing host — the drop set, candidate-sized
    dropped = (
        cont.join(hosts, "id_b")
        .join(
            docs.select(
                F.col("doc_id").alias("id_a"), F.col("n_chars").alias("self_chars")
            ),
            "id_a",
        )
        .where(
            (F.col("host_chars") > F.col("self_chars"))
            | (
                (F.col("host_chars") == F.col("self_chars"))
                & (F.col("id_b") < F.col("id_a"))
            )
        )
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )
    return docs.join(dropped.withColumn("dropped", F.lit(1)), "doc_id", "left").select(
        "doc_id",
        F.when(F.col("dropped").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_kept"),
    )


@REG.register("dedup_minhash_clusters_twostar")
def dedup_minhash_clusters_twostar(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """`dedup_minhash_clusters` with the diameter-independent two-star CC
    kernel — the variant you RUN when the corpus is unknown and templated
    text can chain candidates into long paths (hash-min costs one round
    per hop there; large-star/small-star is O(log n) rounds regardless).
    Registered as its own key (round 11) so the unknown-diameter path is
    a driver-checked surface, not just a parameter: the driver's
    rows-only gate executes the two-star iteration end-to-end every
    round, and tests/test_dedup_clusters.py equality-locks its labels to
    the hash-min key's and to a pure-Python union-find. Same output
    contract: (doc_id, cluster_id, is_canonical) for every document."""
    return dedup_minhash_clusters(spark, sf_dir, threshold, kernel="twostar")
