"""Similarity search over embedding columns (north star, SURVEY §2.9).

Exact brute-force top-k cosine (oracle-checkable) plus four approximate
index kinds: random-projection LSH, an IVF-style coarse quantizer
(KMeans partitions), product quantization (PQ) and their IVF+PQ
composition. The reference has no vector search; its closest analogue is
the argmax over topic-distribution vectors (T5, LDALoader.scala:131-140),
which is also implemented here.

Each index kind has one builder. A live key (``knn_cosine_<kind>``)
builds in memory and probes on every call; a stored key
(``knn_cosine_<kind>_stored``) writes the same build to parquet once per
(applicationId, sf_dir, params), reads it back and runs the same probe —
so both return identical rows. (LSH alone keeps `approxSimilarityJoin`
as its live probe; see `knn_cosine_lsh`.)

Scale design (100 TB):
* Exact: queries are broadcast against a partitioned candidate set; each
  executor scans its shard once; per-query top-k via window rank on
  (query_id) — shuffle carries only |queries|·k rows after a map-side
  rank prune. Dot products are JVM ``zip_with``/``aggregate`` — no Python.
* LSH: `BucketedRandomProjectionLSH` on L2-normalized vectors turns
  cosine into euclidean; the bucket join bounds the pair space.
* IVF: KMeans centroids (tiny, broadcast) → assign partition → probe the
  nearest few partitions only — classic FAISS-IVF reshaped as a join.
* PQ / IVF+PQ: 8-byte codes scanned by asymmetric distance computation,
  exact re-rank of a model-sized shortlist.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._registry import Registry
from ..catalog import load_table, spread

REG = Registry()

N_QUERIES = 10
TOP_K = 5
_TOPK_SCHEMA = "query_id long, neighbor_id long, cosine_sim double, rank int"
_PAIR_SCHEMA = "id_a long, id_b long, cosine_sim double"


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, e, nrm, u)`` for every non-null embedding: ``e`` cast to
    double, ``nrm`` its L2 norm and ``u = e / nrm`` its unit vector.

    Zero-norm vectors have undefined cosine and are excluded by definition
    (mirrored in the oracle via nrm > 0 join conditions — DuckDB's x/0.0
    is NULL, which would otherwise survive into ranked rows; a zero vector
    "normalized by 1" would also report cosine 0.5 vs any unit vector
    through LSH's euclidean->cosine identity). Callers select the columns
    they use; the optimizer prunes the rest."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
        .withColumn("nrm", _l2norm(F.col("e")))
        .where(F.col("nrm") > 0)
        .withColumn("u", F.transform("e", lambda x: x / F.col("nrm")))
    )


def _features(df: DataFrame, col: str) -> DataFrame:
    """``df`` plus ``features``, the ML vector of array column ``col``.

    when() keeps array_to_vector lazy: Catalyst is free to reorder a
    deterministic UDF above a null filter, so the guard must live INSIDE
    the expression, not in a preceding .where()."""
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(
        "features", F.when(F.col(col).isNotNull(), array_to_vector(F.col(col)))
    ).where(F.col("features").isNotNull())


def _top_k(scored: DataFrame) -> DataFrame:
    """Per-query top TOP_K of ``(query_id, neighbor_id, cos)`` rows.

    Rank on the ROUNDED score (ADVICE r13): the displayed 6-dp rounding
    must also decide rank, or two docs whose cosines differ by only
    summation-order/libm ulps at the k-boundary could order differently
    across engines (Spark vs DuckDB oracle vs the GEMM twin)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 6)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine_sim"), "rank")
    )


_STORED_INDEX_MEMO: dict[tuple, object] = {}


def _stored_index(spark: SparkSession, key: tuple, build):
    """The one memo of stored ANN indexes: ``build()`` writes an index
    under a fresh temp dir and returns its loaded form (paths plus the
    model-sized arrays read back from it), once per (applicationId, *key)
    — an sf_dir-only key would serve a stale index across applications
    (VERDICT r14 #6). No corpus rows are held here; an empty corpus
    (``None``) is not memoized."""
    memo_key = (spark.sparkContext.applicationId, *key)
    if memo_key not in _STORED_INDEX_MEMO:
        loaded = build()
        if loaded is None:
            return None
        _STORED_INDEX_MEMO[memo_key] = loaded
    return _STORED_INDEX_MEMO[memo_key]


@REG.register(
    "argmax_array",
    oracle="""
    SELECT vec_id,
           CAST(list_position(embedding, list_aggregate(embedding, 'max')) - 1 AS BIGINT)
             AS argmax_idx
    FROM embeddings
    """,
)
def argmax_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax over an array column (reference T5: main-topic argmax loop,
    LDALoader.scala:131-140 — first-index tie rule, 0-based; the
    reference's last-index ``<=`` rule is a documented divergence)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        (F.array_position(F.col("embedding"), F.array_max("embedding")) - 1)
        .cast("long")
        .alias("argmax_idx"),
    )


_KNN_ORACLE = f"""
WITH ex AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.v * b.v) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES}
  GROUP BY a.vec_id, b.vec_id),
scored AS (
  SELECT d.query_id, d.neighbor_id, d.dot / (qn.nrm * nn.nrm) AS cos
  FROM dots d
  JOIN norms qn ON qn.vec_id = d.query_id AND qn.nrm > 0
  JOIN norms nn ON nn.vec_id = d.neighbor_id AND nn.nrm > 0)
SELECT query_id, neighbor_id,
       round(cos, 6) AS cosine_sim,
       CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 6) DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


@REG.register("knn_cosine_exact", oracle=_KNN_ORACLE)
def knn_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first N_QUERIES vectors.

    Brute-force baseline: broadcast the (tiny) query set against the full
    candidate table, JVM-side dot products in double precision, per-query
    top-k via window rank with neighbor-id tiebreak. The candidate scan is
    embarrassingly parallel; the only shuffle is the |queries|-keyed rank.
    """
    emb = _embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
    )
    pairs = cand.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id"))
    return _top_k(
        pairs.select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )


# ---------------------------------------------------------------------------
# LSH: seeded random-projection buckets over the unit vectors
# ---------------------------------------------------------------------------


def _lsh_build(emb: DataFrame, num_hash_tables: int):
    """LSH index build: fit the seeded random-projection model on the unit
    vectors. Returns the model and ``normed`` (vec_id, ne, features)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # as `_features`, but guarded on ``e``: the filter is pushed below this
    # projection, where a guard on ``u`` would re-evaluate the normalize.
    # Catalyst reorders deterministic UDFs across filters, so materialize
    # the filtered frame and cut the lineage before the fit
    normed = (
        emb.select(
            "vec_id",
            F.col("u").alias("ne"),
            F.when(F.col("e").isNotNull(), array_to_vector(F.col("u"))).alias("features"),
        )
        .where(F.col("features").isNotNull())
        .localCheckpoint(eager=True)
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5,
        numHashTables=num_hash_tables,
        seed=42,
    ).fit(normed)
    return model, normed


def _lsh_pairs(pairs: DataFrame, euclid_threshold: float) -> DataFrame:
    """(id_a, id_b, euclid) candidate pairs -> pairs within the threshold,
    scored as cosine (unit vectors: cos = 1 - euclid²/2)."""
    return pairs.where(F.col("euclid") <= F.lit(euclid_threshold)).select(
        "id_a",
        "id_b",
        F.round(1 - F.col("euclid") * F.col("euclid") / 2, 6).alias("cosine_sim"),
    )


@REG.register("knn_cosine_lsh")  # rows-only: LSH is approximate (seeded, deterministic)
def knn_cosine_lsh(
    spark: SparkSession,
    sf_dir: str,
    *,
    euclid_threshold: float = 1.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """Approximate neighbor pairs via random-projection LSH on L2-normalized
    vectors (cosine ≥ ~0.5 ⇔ euclidean ≤ 1.0 after normalization; in
    general cos ≥ t ⇔ euclid ≤ sqrt(2-2t)).

    Scale path for the exact query above: the bucketed join restricts
    comparisons to same-bucket candidates. Measured pair-recall vs exact
    enumeration (tests/test_search.py::test_ann_recall_lsh, sf0.01):
    ≥0.97 at cos≥0.4 with 4 hash tables, ≥0.99 with 8 — the keyword args
    let callers trade tables for recall; the registered key uses the
    defaults. The index is built FRESH per call (round 15, VERDICT r14 #1).
    The probe is `approxSimilarityJoin`, not the stored key's bucket
    self-join: same rows, but the self-join's array-lambda distance
    measured 7.8 s vs 1.65 s (median write, sf0.1, local[4]).
    """
    emb = _embeddings(spark, sf_dir)
    if emb.isEmpty():  # LSH cannot fit on zero rows: empty-in -> empty-out
        return spark.createDataFrame([], _PAIR_SCHEMA)
    # spread first: the checkpoint freezes the layout, and a single-split
    # corpus would pin the hash transform + approxSimilarityJoin map side
    # to ONE core (round-14 grain lesson; 4.2 -> 0.9 s warm at sf0.1)
    model, normed = _lsh_build(spread(spark, emb), num_hash_tables)
    normed = normed.select("vec_id", "features")  # the join carries every column
    pairs = model.approxSimilarityJoin(normed, normed, euclid_threshold, distCol="euclid")
    return _lsh_pairs(
        pairs.where(F.col("datasetA.vec_id") < F.col("datasetB.vec_id")).select(
            F.col("datasetA.vec_id").alias("id_a"),
            F.col("datasetB.vec_id").alias("id_b"),
            "euclid",
        ),
        euclid_threshold,
    )


def build_lsh_index(
    spark: SparkSession, sf_dir: str, *, num_hash_tables: int = 4
) -> str | None:
    """Stored LSH index: each unit vector's bucket per hash table WRITTEN
    ID-ONLY as parquet partitioned by (hash-table, bucket), so a probe
    reads only its own buckets at the directory level; the unit vectors
    live once in ``{base}/vectors`` (~(1 + tables·id/vec) of the corpus,
    not ~tables×). Once per (app, sf_dir, tables). Returns the index
    directory; None on an empty corpus."""
    from pyspark.ml.functions import vector_to_array

    def build():
        emb = _embeddings(spark, sf_dir)
        if emb.isEmpty():
            return None
        model, normed = _lsh_build(emb, num_hash_tables)
        buckets = model.transform(normed).select(
            "vec_id", F.posexplode("hashes").alias("t", "hv")
        ).select("vec_id", "t", vector_to_array("hv").getItem(0).cast("long").alias("bucket"))
        base = tempfile.mkdtemp(prefix="lsh_index_")
        buckets.write.mode("overwrite").partitionBy("t", "bucket").parquet(f"{base}/buckets")
        normed.select("vec_id", "ne").write.mode("overwrite").parquet(f"{base}/vectors")
        return base

    return _stored_index(spark, ("lsh", sf_dir, num_hash_tables), build)


# ---------------------------------------------------------------------------
# IVF: KMeans coarse quantizer, partition-pruned probe
# ---------------------------------------------------------------------------

_IVF_CLUSTERS, _IVF_NPROBE = 16, 4


def _coarse_fit(vecs: DataFrame, k: int, sample: list | None = None):
    """Seeded KMeans coarse quantizer over ``vecs.features``: returns
    ``vecs`` plus each row's ``cluster``, and the centroid array. ``vecs``
    must be materialized before this iterative fit (guide §5; round 15):
    measured 14.7 -> 3.1 s at local[32] with IDENTICAL centers
    (localCheckpoint changes lineage only, never partitioning, so the
    seeded k-means|| init sees the same data in the same places).

    ``sample`` (IVF+PQ, whose fit input is NORMALIZED): a tiny corpus can
    collapse to fewer DISTINCT points than k and crash KMeans init, so k
    is capped by the sample's distinct count; below 2 (Spark's KMeans
    rejects k=1) everything is one cluster."""
    import numpy as np

    from pyspark.ml.clustering import KMeans

    if sample is not None:
        k = min(k, len({tuple(p) for p in sample}))
        if k < 2:
            return vecs.withColumn("cluster", F.lit(0)), np.asarray([sample[0]], dtype=np.float64)
    model = KMeans(k=k, seed=42, maxIter=20, featuresCol="features").fit(vecs)
    assigned = model.transform(vecs).withColumnRenamed("prediction", "cluster")
    return assigned, np.array(model.clusterCenters())


def _centroid_frame(spark: SparkSession, centroids) -> DataFrame:
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    )


def _ivf_build(
    spark: SparkSession, sf_dir: str, n_clusters: int
) -> tuple[DataFrame, DataFrame] | None:
    """IVF index build: assign every vector to its KMeans cluster. Returns
    ``index`` (vec_id, e, nrm, cluster) and the tiny ``centroids`` frame;
    None when there are fewer than 2 vectors (KMeans needs k>=2, and <2
    vectors admit no neighbor pairs). The fit is seeded, so every build
    returns identical rows."""
    emb = _embeddings(spark, sf_dir)
    # bounded probe: we only need the exact count when it is <= n_clusters,
    # so scan at most n_clusters+1 rows instead of aggregating the table
    n = emb.limit(n_clusters + 1).count()
    if n < 2:
        return None
    vecs = _features(emb.select("vec_id", "e", "nrm"), "e").localCheckpoint(eager=True)
    # KMeans aborts when k exceeds the number of points (tiny corpora)
    assigned, centroids = _coarse_fit(vecs, min(n_clusters, n))
    return assigned.select("vec_id", "e", "nrm", "cluster"), _centroid_frame(spark, centroids)


def _ivf_probe(index: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """Each query probes its nearest ``nprobe`` clusters (broadcast
    centroid scores, per-query window); the union of probed cluster ids is
    collected — model-sized (≤ queries × nprobe ints), the same class of
    state as the centroids — and becomes a filter on the index, which a
    stored index turns into directory-level partition pruning."""
    q = index.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    qc = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id", "qe", "qn", "cluster",
            _dot(F.col("qe"), F.col("centroid")).alias("score"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("score"), "cluster")
            ),
        )
        .where(F.col("r") <= nprobe)
        .select("query_id", "qe", "qn", "cluster")
    )
    probed = sorted({r["cluster"] for r in qc.select("cluster").distinct().collect()})
    cand = index.where(F.col("cluster").isin(probed)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
        "cluster",
    )
    return _top_k(
        qc.join(cand, "cluster")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )


@REG.register("knn_cosine_ivf")  # rows-only: IVF probe is approximate (seeded, deterministic)
def knn_cosine_ivf(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_clusters: int = _IVF_CLUSTERS,
    nprobe: int = _IVF_NPROBE,
) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer partitions the corpus; each
    query probes only its nearest ``nprobe`` partitions.

    The centroid table is tiny → broadcast; candidate scan cost drops by
    ~n_clusters/nprobe vs brute force. The index is built FRESH per call
    (round 15, VERDICT r14 #1) and checkpointed for the probe.

    Recall@5 vs exact is measured and pinned in
    tests/test_search.py::test_ann_recall_ivf (the testdata embeddings are
    near-random — worst case for a coarse quantizer — so the nprobe→recall
    curve is documented in COVERAGE.md rather than assumed); nprobe ==
    n_clusters provably degenerates to exact brute force and the test
    asserts that equality.
    """
    built = _ivf_build(spark, sf_dir, n_clusters)
    if built is None:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    index, centroids = built
    return _ivf_probe(index.localCheckpoint(eager=True), centroids, nprobe)


_EMB_DEDUP_ORACLE = """
WITH ex AS (
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.v * b.v) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id),
scored AS (
  SELECT d.id_a, d.id_b, d.dot / (na.nrm * nb.nrm) AS cos
  FROM dots d JOIN norms na ON na.vec_id = d.id_a AND na.nrm > 0
  JOIN norms nb ON nb.vec_id = d.id_b AND nb.nrm > 0)
SELECT id_a, id_b, round(cos, 6) AS cosine_sim
FROM scored WHERE cos >= 0.9
"""


@REG.register("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.9 within a label block.

    Blocking on ``label`` stands in for the LSH/IVF candidate stage — the
    exact-verify join only runs inside blocks, which is the scalable shape
    (never the full n² cross join).
    """
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    ).select("vec_id", "label", _as_double("embedding").alias("e"))
    emb = emb.withColumn("nrm", _l2norm(F.col("e"))).where(F.col("nrm") > 0)
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("la"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("lb"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, (F.col("la") == F.col("lb")) & (F.col("id_a") < F.col("id_b")))
    scored = pairs.select(
        "id_a", "id_b", (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("cos")
    )
    return scored.where(F.col("cos") >= 0.9).select(
        "id_a", "id_b", F.round("cos", 6).alias("cosine_sim")
    )


@REG.register("knn_cosine_gemm", oracle=_KNN_ORACLE)  # round 13: exact by
# construction, so it carries knn_cosine_exact's oracle (identical output
# was already equality-asserted in tests; the BLAS-vs-JVM summation-order
# difference is ~1 ulp, invisible at the 1e-6 rounding both the compare
# and the emitted cosine_sim column apply)
def knn_cosine_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine via numpy GEMM inside mapInPandas: the query
    matrix (Q×d, model-sized) is captured in the closure and broadcast once
    per executor; each Arrow batch of candidates does ONE matrix multiply
    (C·Qᵀ) in BLAS instead of per-pair JVM lambda folds.

    Same semantics as `knn_cosine_exact` (tests assert identical output) —
    this is the high-throughput path when d is large: BLAS does ~10-50×
    the FLOPs/s of per-element codegen. Each batch emits only its PARTIAL
    top-k per query (np.argpartition), so the shuffle into the final
    global window carries batches×Q×k rows instead of n×Q — at 100 TB
    that is the difference between a broadcast-sized rank input and a
    corpus-sized one (top-k of per-partition top-k == global top-k).
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    ).where(_l2norm(_as_double("embedding")) > 0)
    q_rows = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # model-sized (N_QUERIES × d), the broadcast query set
    if not q_rows:  # empty corpus/query set -> empty result, not a crash
        return spark.createDataFrame([], _TOPK_SCHEMA)
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def score_batches(batches):
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(c_mat) == 0:
                continue
            c_norm = np.linalg.norm(c_mat, axis=1)
            cos = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)  # (batch, Q)
            n, q = cos.shape
            # self-pairs masked to -inf BEFORE the partial top-k so a
            # query's own row can never displace a genuine neighbor
            np.copyto(cos, -np.inf, where=c_ids[:, None] == q_ids[None, :])
            kk = min(TOP_K, n)
            # batch-local top-k per query (column): unordered partial
            # select is O(n) vs O(n log n) sort; global order is restored
            # by the window rank downstream
            part = np.argpartition(-cos, kk - 1, axis=0)[:kk]  # (kk, Q)
            out = pd.DataFrame(
                {
                    "query_id": np.broadcast_to(q_ids, (kk, q)).reshape(-1),
                    "neighbor_id": c_ids[part].reshape(-1),
                    "cos": np.take_along_axis(cos, part, axis=0).reshape(-1),
                }
            )
            yield out[np.isfinite(out["cos"].to_numpy())]

    return _top_k(
        emb.select("vec_id", "embedding").mapInPandas(
            score_batches, schema="query_id long, neighbor_id long, cos double"
        )
    )


@REG.register(
    "embedding_quantize_int8",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             list_aggregate(list_transform(embedding, x -> abs(x)), 'max') AS max_abs
      FROM embeddings)
    SELECT e.vec_id,
           round(CAST(s.max_abs AS DOUBLE), 6) AS scale,
           array_to_string(
             list_transform(e.embedding,
                            x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127.0
                                           / CAST(s.max_abs AS DOUBLE), 0) AS BIGINT)
                                      AS VARCHAR)),
             ',') AS q8
    FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (scale = max|x|, q =
    round(127·x/scale)) — 4× storage cut for a 100 TB vector store with
    ~0.3% cosine error at d=64. Pure JVM array math; the oracle recomputes
    identically (both round half-away on doubles). The quantized vector is
    serialized comma-joined so the output schema stays atomic for external
    hashers (see tests/test_registry_schemas.py); a production sink would
    keep the packed array/binary form."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(as_double, lambda x: F.abs(x)))
    return emb.select(
        "vec_id",
        F.round(max_abs, 6).alias("scale"),
        F.concat_ws(
            ",",
            F.transform(
                as_double,
                # zero vector: scale 0 and all-zero codes (ANSI division by
                # zero would otherwise abort the whole job)
                lambda x: F.when(
                    max_abs > 0, F.round(x * 127.0 / max_abs, 0).cast("long")
                )
                .otherwise(F.lit(0))
                .cast("string"),
            ),
        ).alias("q8"),
    )


def build_ivf_index(spark: SparkSession, sf_dir: str) -> tuple[str, str] | None:
    """Stored IVF index: the `_ivf_build` assignment WRITTEN as a parquet
    table partitioned by cluster id, plus the tiny centroids table, once
    per (app, sf_dir); queries read only their probed partitions
    (directory-level pruning). Returns (index_path, centroids_path); None
    when the corpus is empty."""

    def build():
        built = _ivf_build(spark, sf_dir, _IVF_CLUSTERS)
        if built is None:
            return None
        index, centroids = built
        base = tempfile.mkdtemp(prefix="ivf_index_")
        index.write.mode("overwrite").partitionBy("cluster").parquet(f"{base}/vectors")
        centroids.write.mode("overwrite").parquet(f"{base}/centroids")
        return f"{base}/vectors", f"{base}/centroids"

    return _stored_index(spark, ("ivf", sf_dir), build)


@REG.register("knn_cosine_ivf_stored")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against the STORED partitioned index: the probed cluster
    ids become a partition filter on the index table, so the scan touches
    only nprobe/n_clusters of the data at the directory level (asserted
    in tests/test_search.py). Same build and probe as `knn_cosine_ivf`,
    whose results it reproduces exactly."""
    paths = build_ivf_index(spark, sf_dir)
    if paths is None:  # empty corpus: no index to build -> empty result
        return spark.createDataFrame([], _TOPK_SCHEMA)
    index_path, centroids_path = paths
    return _ivf_probe(
        spark.read.parquet(index_path), spark.read.parquet(centroids_path), _IVF_NPROBE
    )


# ---------------------------------------------------------------------------
# Product quantization (round 4): the memory-compression ANN path
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (d=64 -> 8 dims each)
_PQ_K = 256  # centroids per subspace -> one byte code each; 8 B/vector
_PQ_SAMPLE = 512  # training sample (model-sized, deterministic prefix)
_PQ_RERANK = 100  # ADC shortlist size fed to the exact re-rank stage
_IVFPQ_CLUSTERS, _IVFPQ_NPROBE = 16, 8


def _probe_grain(codes_df, n_rows: int, rows_per_part: int = 512):
    """Size an in-memory code table's partition grain for the probe side
    (r14 session 3): the ADC scan is a trivial numpy lookup per row, so a
    2 000-row sf0.1 code table spread across 32 encode partitions pays 32
    Python-task setups and emits 32 partial top-RERANK batches into the
    shortlist window — per-task overhead, no compute to amortize. Coalesce
    (narrow, no shuffle — the frame is already checkpointed) to ~512 rows
    per partition, but NEVER above the natural grain: a 100 TB code table
    has n_rows/512 >> partitions and keeps its layout untouched. The
    global shortlist is a total-ordered window (score desc, id asc), so
    batching never changes results."""
    import math

    parts = codes_df.rdd.getNumPartitions()
    target = max(1, math.ceil(n_rows / rows_per_part))
    return codes_df.coalesce(target) if target < parts else codes_df


def _pq_sample(df: DataFrame) -> list:
    """The model-sized PQ training sample: unit vectors ``u`` with vec_id <
    _PQ_SAMPLE, collected FRESH per build (round 15, VERDICT r14 #1). Its
    row order feeds the seeded codebook init."""
    return df.where(F.col("vec_id") < _PQ_SAMPLE).select("vec_id", "u").collect()


def _pq_queries(emb: DataFrame, n_queries: int, sample: list | None = None) -> list:
    """(vec_id, unit vector) for every vec_id < n_queries. A build's
    training sample serves when it covers them; otherwise the query rows
    are collected fresh — codebook TRAINING stays bounded at _PQ_SAMPLE
    while the QUERY set honors n_queries past it (round-7 fix)."""
    import numpy as np

    rows = (
        sample
        if sample is not None and n_queries <= _PQ_SAMPLE
        else emb.where(F.col("vec_id") < n_queries).select("vec_id", "u").collect()
    )
    return [
        (int(r["vec_id"]), np.asarray(r["u"], dtype=np.float64))
        for r in rows
        if r["vec_id"] < n_queries
    ]


def _pq_train_codebooks(sample: "object", seed: int = 42):
    """Per-subspace k-means (numpy, fixed 10 Lloyd iterations, seeded
    farthest-point-ish init) over an (n, d) sample of NORMALIZED vectors.
    Returns (m, k, d_s) codebooks. Deterministic for the driver's reruns."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    n, d = x.shape
    d_s = d // _PQ_M
    rng = np.random.default_rng(seed)
    books = np.empty((_PQ_M, _PQ_K, d_s))
    for s in range(_PQ_M):
        sub = x[:, s * d_s : (s + 1) * d_s]
        idx = rng.choice(n, size=_PQ_K, replace=n < _PQ_K)
        cents = sub[idx].copy()
        for _ in range(10):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(_PQ_K):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(0)
        books[s] = cents
    return books


def _write_codebooks(spark: SparkSession, books, path: str) -> None:
    """m×k rows of (s, c, centroid) — a few MB at any scale."""
    spark.createDataFrame(
        [
            (s, c, [float(x) for x in books[s][c]])
            for s in range(books.shape[0])
            for c in range(books.shape[1])
        ],
        "s int, c int, centroid array<double>",
    ).write.mode("overwrite").parquet(path)


def _read_codebooks(spark: SparkSession, path: str):
    import numpy as np

    rows = spark.read.parquet(path).collect()  # m×k rows
    books = np.empty(
        (max(r["s"] for r in rows) + 1, max(r["c"] for r in rows) + 1, len(rows[0]["centroid"]))
    )
    for r in rows:
        books[r["s"], r["c"]] = r["centroid"]
    return books


def _pq_encode_iter(books, extra_cols=()):
    """mapInPandas closure: encode unit vectors in column ``u`` to
    per-subspace nearest-centroid codes, passing ``extra_cols`` through
    (vectorized argmin per subspace — no per-row Python)."""

    def encode(batches):
        import numpy as np
        import pandas as pd

        d_s = books.shape[2]
        for pdf in batches:
            vecs = np.stack(pdf["u"].to_numpy())
            codes = np.empty((len(pdf), _PQ_M), dtype=np.int64)
            for s in range(_PQ_M):
                sub = vecs[:, s * d_s : (s + 1) * d_s]
                d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = d2.argmin(1)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for c in extra_cols:
                out[c] = pdf[c].to_numpy()
            out["code"] = list(codes)
            yield pd.DataFrame(out)

    return encode


def _adc_tables(books, queries):
    """Per-query ADC tables: (Q, m, k) inner products query-subvector ·
    centroid — model-sized, shipped in the probe closure."""
    import numpy as np

    d_s = books.shape[2]
    return np.stack(
        [
            np.stack([books[s] @ q[s * d_s : (s + 1) * d_s] for s in range(_PQ_M)])
            for _, q in queries
        ]
    )


def _keep_shortlist(out: dict, qid: int, scores, ids) -> None:
    """Append query ``qid``'s batch-local top-_PQ_RERANK ADC scores (self
    excluded) to ``out``. The RERANK depth, not TOP_K: the exact re-rank
    needs the full shortlist to recover from quantization error (emitting
    only top-k here silently degrades it to pure ADC)."""
    import numpy as np

    mask = ids != qid
    sc, ids = scores[mask], ids[mask]
    keep = min(_PQ_RERANK, len(sc))
    if keep == 0:
        return
    part = np.argpartition(-sc, keep - 1)[:keep]
    out["query_id"].extend([qid] * keep)
    out["neighbor_id"].extend(int(i) for i in ids[part])
    out["cosine_sim"].extend(float(s) for s in sc[part])


def _rerank(spark: SparkSession, emb: DataFrame, scored: DataFrame, queries) -> DataFrame:
    """ADC shortlist -> EXACT re-rank -> top-k (the standard PQ pipeline:
    the compressed scan nominates _PQ_RERANK candidates per query, then the
    true unit vectors — candidate-sized, not corpus-sized — break the
    quantization ties). The shortlist is the GLOBAL ADC top-RERANK, total-
    ordered on (score, id), so it does not depend on how the code table is
    partitioned. Both joins are broadcast (shortlist and query set are
    model-sized)."""
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rnk", F.row_number().over(w_adc))
        .where(F.col("rnk") <= _PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
        "query_id long, qe array<double>",
    )
    return _top_k(
        emb.join(F.broadcast(shortlist), emb.vec_id == F.col("neighbor_id"))
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _dot(F.col("u"), F.col("qe")).alias("cos"),  # unit vectors: dot = cosine
        )
    )


def _pq_build(spark: SparkSession, emb: DataFrame):
    """PQ index build: seeded per-subspace k-means on the model-sized
    sample (driver numpy — PQ training is sample-based by design), then one
    ``mapInPandas`` encode pass over the corpus. Returns (books, codes
    (vec_id, code), sample); None when the sample has < 2 vectors."""
    sample = _pq_sample(emb)
    if len(sample) < 2:
        return None
    books = _pq_train_codebooks([r["u"] for r in sample])
    codes = spread(spark, emb.select("vec_id", "u")).mapInPandas(
        _pq_encode_iter(books), schema="vec_id long, code array<long>"
    )
    return books, codes, sample


def _pq_probe(spark: SparkSession, emb: DataFrame, books, codes_df: DataFrame, queries) -> DataFrame:
    """PQ probe: ADC scan over the code table emitting per-batch partial
    top-RERANK (the shuffle carries batches×Q×RERANK rows, same trick as
    the GEMM variant), then the shared exact re-rank."""
    import numpy as np

    if not queries:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    adc = _adc_tables(books, queries)
    qids = [qid for qid, _ in queries]

    def adc_score(batches):
        import pandas as pd  # noqa: F811 — executor-side import

        for pdf in batches:
            codes = np.stack(pdf["code"].to_numpy())  # (n, m)
            vec_ids = pdf["vec_id"].to_numpy()
            # scores[q, n] = sum_s adc[q, s, codes[n, s]]
            scores = np.take_along_axis(
                adc[:, None, :, :], codes[None, :, :, None], axis=3
            )[..., 0].sum(-1)
            out = {"query_id": [], "neighbor_id": [], "cosine_sim": []}
            for qi, qid in enumerate(qids):
                _keep_shortlist(out, qid, scores[qi], vec_ids)
            yield pd.DataFrame(out)

    scored = codes_df.mapInPandas(
        adc_score, schema="query_id long, neighbor_id long, cosine_sim double"
    )
    return _rerank(spark, emb, scored, queries)


@REG.register("knn_cosine_pq")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: top-k cosine via asymmetric distance
    computation (ADC) over 8-byte codes.

    This is the 100 TB *memory* story the IVF/LSH variants don't cover: a
    64-dim float64 vector is 512 B; its PQ code is 8 B (one byte per
    8-dim subspace, k=256 centroids) — 64× compression, so a 100 TB
    embedding table scans as ~1.6 TB of codes. Cosine over normalized vectors decomposes
    per subspace, so ADC scores are sums of m=8 table lookups: each query
    precomputes an (8×16) inner-product table against the codebooks (tiny,
    broadcast in the closure), and candidates never decompress.

    Sample collect, codebook training and corpus encode all run FRESH per
    call (round 15, VERDICT r14 #1); results are seeded and identical
    across calls. The code table is checkpointed for the ADC scan.
    Recall@5 vs ``knn_cosine_exact`` is measured and pinned in
    tests/test_search.py::test_ann_recall_pq.
    """
    emb = _embeddings(spark, sf_dir)
    built = _pq_build(spark, emb)
    if built is None:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    books, codes, sample = built
    codes = codes.localCheckpoint(eager=True)
    return _pq_probe(
        spark, emb, books, _probe_grain(codes, codes.count()), _pq_queries(emb, N_QUERIES, sample)
    )


def build_pq_index(spark: SparkSession, sf_dir: str) -> tuple | None:
    """Stored PQ index: the `_pq_build` output WRITTEN as parquet —
    ``<base>/codebooks`` (m×k rows) and ``<base>/codes`` (8 B/vector code
    table). At 100 TB this is the batch index job; the artifacts survive
    the session and queries are probe-only reads. Once per (app, sf_dir).
    Returns (base, codebooks read back from disk); None on an empty
    corpus."""

    def build():
        built = _pq_build(spark, _embeddings(spark, sf_dir))
        if built is None:
            return None
        books, codes, _ = built
        base = tempfile.mkdtemp(prefix="pq_index_")
        _write_codebooks(spark, books, f"{base}/codebooks")
        codes.write.mode("overwrite").parquet(f"{base}/codes")
        return base, _read_codebooks(spark, f"{base}/codebooks")

    return _stored_index(spark, ("pq", sf_dir), build)


@REG.register("knn_cosine_pq_stored")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_pq_stored(
    spark: SparkSession, sf_dir: str, *, n_queries: int = N_QUERIES
) -> DataFrame:
    """PQ ANN against the STORED parquet index: the code table is read
    back from disk (no retraining, no re-encode), then the same
    `_pq_probe` runs — so results reproduce `knn_cosine_pq` exactly
    (asserted in tests/test_search.py). A query session reads ~1.6 TB of
    codes instead of 100 TB of vectors; the codebooks load once with the
    index. Amortization over n_queries is measured in COVERAGE.md."""
    built = build_pq_index(spark, sf_dir)
    if built is None:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    base, books = built
    emb = _embeddings(spark, sf_dir)
    return _pq_probe(
        spark, emb, books, spark.read.parquet(f"{base}/codes"), _pq_queries(emb, n_queries)
    )


def _ivfpq_build(spark: SparkSession, emb: DataFrame, n_clusters: int, books=None):
    """IVF+PQ index build: coarse KMeans assignment of the unit vectors
    (materialized once, see `_coarse_fit`; the sample and the encode read
    the same checkpoint), then the PQ encode tagging each code with its
    cluster. Codebooks are trained on the sample unless ``books`` is given.
    Returns (books, centroids, codes (vec_id, cluster, code), sample);
    None when the sample has < 2 vectors."""
    vecs = _features(emb.select("vec_id", "u"), "u").localCheckpoint(eager=True)
    sample = _pq_sample(vecs)
    if len(sample) < 2:
        return None
    points = [r["u"] for r in sample]
    if books is None:
        books = _pq_train_codebooks(points)
    assigned, centroids = _coarse_fit(vecs, n_clusters, sample=points)
    codes = spread(spark, assigned.select("vec_id", "u", "cluster")).mapInPandas(
        _pq_encode_iter(books, extra_cols=("cluster",)),
        schema="vec_id long, cluster int, code array<long>",
    )
    return books, centroids, codes, sample


def _ivfpq_probe(
    spark: SparkSession, emb: DataFrame, books, centroids, codes_df: DataFrame, queries, nprobe: int
) -> DataFrame:
    """IVF+PQ probe: per-query probe set (nearest ``nprobe`` centroids,
    driver-side — the centroid table is model-sized), ADC over the probed
    codes, shared exact re-rank."""
    import numpy as np

    if not queries:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    cluster_to_qrows: dict[int, list[int]] = {}
    for i, (_qid, qv) in enumerate(queries):
        for c in np.argsort(-(centroids @ qv))[:nprobe]:
            cluster_to_qrows.setdefault(int(c), []).append(i)
    adc = _adc_tables(books, queries)
    qids = [qid for qid, _ in queries]

    def adc_score(batches):
        import pandas as pd  # noqa: F811 — executor-side import

        for pdf in batches:
            if not len(pdf):
                continue
            clusters = pdf["cluster"].to_numpy()
            codes = np.stack(pdf["code"].to_numpy())
            vec_ids = pdf["vec_id"].to_numpy()
            out = {"query_id": [], "neighbor_id": [], "cosine_sim": []}
            for c in np.unique(clusters):
                qrows = cluster_to_qrows.get(int(c))
                if not qrows:
                    continue
                cmask = clusters == c
                ccodes, cids = codes[cmask], vec_ids[cmask]  # (n_c, m), (n_c,)
                # score this cluster's codes against every query probing
                # it in one gather: tbl (nq, m, k) indexed by ccodes ->
                # (nq, n_c, m), summed over subspaces -> (nq, n_c)
                gathered = np.take_along_axis(
                    adc[qrows][:, None, :, :], ccodes[None, :, :, None], axis=3
                )[..., 0]
                scores = gathered.sum(-1)
                for ii, qi in enumerate(qrows):
                    _keep_shortlist(out, qids[qi], scores[ii], cids)
            yield pd.DataFrame(out)

    # IVF pruning as a pushable predicate: only probed clusters are
    # scanned (directory-level partition pruning on the stored code
    # table, a cheap filter on the in-memory one). The per-(query,
    # cluster) pairing happens INSIDE the closure (r14: a broadcast probe
    # join expanded every code row once per probing query, ~16x the Arrow
    # traffic). Trade (ADVICE r14): the closure emits up to _PQ_RERANK rows
    # per (query, CLUSTER, batch) — model-sized (nprobe × RERANK ×
    # |queries| rows max), and cheaper to ship than to merge in-closure.
    probed = codes_df.where(F.col("cluster").isin(sorted(cluster_to_qrows)))
    scored = probed.mapInPandas(
        adc_score, schema="query_id long, neighbor_id long, cosine_sim double"
    )
    return _rerank(spark, emb, scored, queries)


@REG.register("knn_cosine_ivfpq")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_clusters: int = _IVFPQ_CLUSTERS,
    nprobe: int = _IVFPQ_NPROBE,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """IVF+PQ combined — the FAISS-style architecture an actual 100 TB
    vector store runs: a coarse KMeans quantizer prunes the search to
    ``nprobe`` of ``n_clusters`` partitions (I/O: read 1/2 of the index
    at the defaults), the probed partitions scan 8-byte PQ codes instead
    of 512-byte vectors (memory/bandwidth: 64× less), ADC nominates a
    shortlist, and an exact re-rank of the candidate-sized shortlist
    restores ranking quality.

    Codebook training, the coarse fit and the corpus encode all run FRESH
    per call (round 15, VERDICT r14 #1); the code table is checkpointed
    for the probe. Recall@5 vs exact is measured and pinned in
    tests/test_search.py::test_ann_recall_ivfpq."""
    emb = _embeddings(spark, sf_dir)
    built = _ivfpq_build(spark, emb, n_clusters)
    if built is None:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    books, centroids, codes, sample = built
    # _probe_grain deliberately NOT applied here (measured 2.3-3.9 s at
    # 32 partitions vs 5.4-6.2 coalesced, same session alternating): the
    # IVFPQ ADC closure gathers a per-row (n, m, k) score table, so its
    # probe is memory-bandwidth-bound and wants the parallelism the
    # PQ closure (broadcast-indexed, no gather) does not need.
    return _ivfpq_probe(
        spark, emb, books, centroids, codes.localCheckpoint(eager=True),
        _pq_queries(emb, n_queries, sample), nprobe,
    )


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, *, n_clusters: int = _IVFPQ_CLUSTERS
) -> tuple | None:
    """Stored IVF+PQ index: the `_ivfpq_build` output WRITTEN as parquet —
    ``<base>/centroids`` (coarse quantizer), ``<base>/codebooks`` and
    ``<base>/codes``, the 8-byte code table PARTITIONED BY cluster, so a
    probe reads only nprobe/n_clusters of the index at the directory
    level. The full FAISS-style durable artifact: the batch index job runs
    once per (app, sf_dir, n_clusters); query sessions read a few MB of
    centroids/codebooks plus the probed partitions of a ~64×-compressed
    code table. Returns (base, centroids, codebooks), the arrays read back
    from disk; None on an empty corpus."""
    import numpy as np

    def build():
        built = _ivfpq_build(spark, _embeddings(spark, sf_dir), n_clusters)
        if built is None:
            return None
        books, centroids, codes, _ = built
        base = tempfile.mkdtemp(prefix="ivfpq_index_")
        _centroid_frame(spark, centroids).write.mode("overwrite").parquet(f"{base}/centroids")
        _write_codebooks(spark, books, f"{base}/codebooks")
        codes.write.mode("overwrite").partitionBy("cluster").parquet(f"{base}/codes")
        rows = spark.read.parquet(f"{base}/centroids").collect()
        centroids = np.empty((len(rows), len(rows[0]["centroid"])))
        for r in rows:
            centroids[r["cluster"]] = r["centroid"]
        return base, centroids, _read_codebooks(spark, f"{base}/codebooks")

    return _stored_index(spark, ("ivfpq", sf_dir, n_clusters), build)


@REG.register("knn_cosine_ivfpq_stored")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_ivfpq_stored(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_clusters: int = _IVFPQ_CLUSTERS,
    nprobe: int = _IVFPQ_NPROBE,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """IVF+PQ against the STORED parquet index: centroids and codebooks
    come loaded with the index; the union of the queries' probe clusters
    becomes a partition filter on the code table (directory-level pruning,
    asserted in tests/test_search.py like the stored-IVF twin), then the
    same `_ivfpq_probe` runs — so results reproduce `knn_cosine_ivfpq`
    exactly (equality-asserted)."""
    built = build_ivfpq_index(spark, sf_dir, n_clusters=n_clusters)
    if built is None:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    base, centroids, books = built
    emb = _embeddings(spark, sf_dir)
    return _ivfpq_probe(
        spark, emb, books, centroids, spark.read.parquet(f"{base}/codes"),
        _pq_queries(emb, n_queries), nprobe,
    )


@REG.register("knn_cosine_lsh_stored")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_lsh_stored(
    spark: SparkSession,
    sf_dir: str,
    *,
    euclid_threshold: float = 1.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """LSH neighbor pairs against the STORED bucket index: candidates are
    pairs sharing any (hash-table, bucket) — `approxSimilarityJoin`'s rule
    (same model seed and bucket length) — deduplicated as 16-byte id pairs
    BEFORE the stored unit vectors are attached for the exact euclidean
    post-filter. Results reproduce `knn_cosine_lsh` (asserted in
    tests/test_search.py); at 100 TB the bucket join is partition-pruned
    parquet reads."""
    base = build_lsh_index(spark, sf_dir, num_hash_tables=num_hash_tables)
    if base is None:
        return spark.createDataFrame([], _PAIR_SCHEMA)
    idx = spark.read.parquet(f"{base}/buckets")
    vecs = spark.read.parquet(f"{base}/vectors")
    cand = (
        idx.select("t", "bucket", F.col("vec_id").alias("id_a"))
        .join(idx.select("t", "bucket", F.col("vec_id").alias("id_b")), ["t", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(vecs.select(F.col("vec_id").alias("id_a"), F.col("ne").alias("na")), "id_a")
        .join(vecs.select(F.col("vec_id").alias("id_b"), F.col("ne").alias("nb")), "id_b")
    )
    euclid = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("na"), F.col("nb"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return _lsh_pairs(pairs.select("id_a", "id_b", euclid.alias("euclid")), euclid_threshold)


_KM_K = 8

_KMEANS_ASSIGN_ORACLE = f"""
WITH ex AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE embedding IS NOT NULL),
cent AS (SELECT vec_id AS c_id, v, i FROM ex WHERE vec_id < {_KM_K}),
dist AS (
  SELECT e.vec_id, c.c_id, SUM((e.v - c.v) * (e.v - c.v)) AS d2
  FROM ex e JOIN cent c ON e.i = c.i
  GROUP BY e.vec_id, c.c_id)
SELECT vec_id, CAST(c_id AS BIGINT) AS cluster, round(d2, 6) AS dist2
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2, c_id) AS rn
      FROM dist)
WHERE rn = 1
"""


@REG.register("kmeans_assign_exact", oracle=_KMEANS_ASSIGN_ORACLE)
def kmeans_assign_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd ASSIGNMENT step (round 6) — the deterministic,
    oracle-able core of k-means: with the first k={_KM_K} vectors as
    initial centroids, assign every vector to its nearest centroid by
    squared euclidean distance (smallest-centroid-id tiebreak).

    This is the relational shape every Lloyd iteration repeats at scale:
    broadcast the k centroid rows, one JVM `zip_with`/`aggregate`
    distance projection over the corpus (no Python), a per-vector argmin
    — the only shuffle is the |vectors|-keyed rank, and the UPDATE step
    is just `groupBy(cluster).agg(avg per dimension)` on this output.
    The full seeded trainer is `kmeans_cluster_embeddings` (rows-only;
    iterative). The reference clusters with LDA; k-means is the obvious
    sibling its users would reach for (SURVEY §2.9 north-star scope)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    cent = emb.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("c")
    )
    d2 = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "c_id", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("c_id").cast("long").alias("cluster"),
            F.round("d2", 6).alias("dist2"),
        )
    )


@REG.register("kmeans_cluster_embeddings")  # rows-only: iterative, seeded init
def kmeans_cluster_embeddings(
    spark: SparkSession, sf_dir: str, k: int = _KM_K, max_iter: int = 20
) -> DataFrame:
    """Full seeded k-means over the embeddings table (Spark ML, k-means||
    init, seed=42): per-cluster sizes + within-cluster SSE — the
    clustering summary a corpus-exploration pipeline reports. Rows-only
    by nature (iterative, init-seeded); determinism, non-degenerate
    clusters, and SSE-beats-single-cluster are pinned in
    tests/test_search.py. Scale: Spark ML's KMeans is the standard
    distributed Lloyd — broadcast centroids, map-side partial sums,
    k×dim-sized driver traffic per iteration."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    out_schema = "cluster int, n_vecs long, sse double"
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    if emb.limit(k).count() < k:
        return spark.createDataFrame([], out_schema)
    feat = emb.select("vec_id", "e", array_to_vector("e").alias("features"))
    # materialize ONCE before the iterative fit (guide §5; round 15):
    # the ~max_iter iteration jobs otherwise re-evaluate the scan +
    # array_to_vector lineage per job. Lineage-only — partitioning (and
    # therefore the seeded k-means|| init) is unchanged, and the SSE
    # summary below reuses the same materialized frame.
    feat = feat.localCheckpoint(eager=True)
    model = KMeans(k=k, maxIter=max_iter, seed=42).fit(feat)
    pred = model.transform(feat).select(
        "vec_id", F.col("prediction").alias("cluster"), "e"
    )
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, c array<double>",
    )
    joined = pred.join(F.broadcast(cent), "cluster").select(
        "cluster",
        F.aggregate(
            F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    return joined.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.round(F.sum("d2"), 6).alias("sse")
    )


@REG.register("embedding_pca_variance")  # rows-only: eigendecomposition (sign/float)
def embedding_pca_variance(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """PCA over the embeddings table (round 6) — the standard
    dimensionality-reduction stage before ANN indexing (project 64 → k
    dims, then IVF/PQ the projections): fit Spark ML PCA and emit the
    per-component explained-variance summary. Rows-only by nature
    (eigendecomposition: component signs and last-ulp floats are
    implementation-defined); determinism within a session, monotone
    non-increasing variance ordering, orthonormal components, and
    reconstruction-beats-truncation are pinned in tests/test_search.py.

    Scale: Spark ML PCA is one distributed Gramian accumulation
    (map-side d×d partial outer products, d=64 here → a 32 KB matrix per
    partition) + a driver-side eigendecomposition of the d×d Gramian —
    the corpus is scanned once and nothing data-sized shuffles; the
    projection afterward is a broadcast matrix multiply, embarrassingly
    parallel."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    out_schema = "component int, explained_variance double"
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    if emb.limit(k).count() < k:
        return spark.createDataFrame([], out_schema)
    feat = emb.select(array_to_vector("e").alias("features"))
    model = PCA(k=k, inputCol="features", outputCol="p").fit(feat)
    ev = [float(x) for x in model.explainedVariance]
    return spark.createDataFrame(
        [(i, round(v, 6)) for i, v in enumerate(ev)], out_schema
    )


def pca_project(spark: SparkSession, sf_dir: str, k: int = 8) -> DataFrame:
    """(vec_id, proj array<double>[k]) — the projection companion of
    `embedding_pca_variance`, for feeding reduced vectors into the ANN
    builders. Broadcast matrix multiply; no shuffle."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    feat = emb.select("vec_id", array_to_vector("e").alias("features"))
    model = PCA(k=k, inputCol="features", outputCol="p").fit(feat)
    return model.transform(feat).select(
        "vec_id", vector_to_array("p").alias("proj")
    )


_SEM_TAU = 0.3  # cosine threshold placed INSIDE the synthetic corpus's
# observed similarity range (max within-label cosine is 0.475; real
# corpora have true near-dups at 0.9+, and tau is a parameter)

_SEMDEDUP_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE embedding IS NOT NULL),
cent AS (SELECT vec_id AS c_id, v, i FROM ex WHERE vec_id < {_KM_K}),
dist AS (
  SELECT e.vec_id, c.c_id, SUM((e.v - c.v) * (e.v - c.v)) AS d2
  FROM ex e JOIN cent c ON e.i = c.i GROUP BY e.vec_id, c.c_id),
assign AS (
  SELECT vec_id, c_id AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) rn
    FROM dist) WHERE rn = 1),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT aa.vec_id AS ia, ab.vec_id AS ib, SUM(ea.v * eb.v) AS dot
  FROM assign aa
  JOIN assign ab ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
  JOIN ex ea ON ea.vec_id = aa.vec_id
  JOIN ex eb ON eb.vec_id = ab.vec_id AND ea.i = eb.i
  GROUP BY aa.vec_id, ab.vec_id),
dropped AS (
  SELECT DISTINCT d.ib AS vec_id FROM dots d
  JOIN norms na ON na.vec_id = d.ia AND na.nrm > 0
  JOIN norms nb ON nb.vec_id = d.ib AND nb.nrm > 0
  WHERE d.dot / (na.nrm * nb.nrm) >= {_SEM_TAU})
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster
FROM assign a LEFT JOIN dropped x ON a.vec_id = x.vec_id
WHERE x.vec_id IS NULL
"""


@REG.register("dedup_semantic_kmeans", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic_kmeans(
    spark: SparkSession, sf_dir: str, *, k: int = _KM_K, tau: float = _SEM_TAU
) -> DataFrame:
    """SemDeDup-shape semantic deduplication (round 7, Abbas et al. 2023
    form): cluster the embeddings, then WITHIN each cluster drop every
    vector that has a smaller-id neighbor at cosine >= tau — keeping the
    min-id representative of each semantic neighborhood. The registered
    form uses the deterministic one-step assignment
    (`kmeans_assign_exact`'s first-k centroids + argmin, smallest-id
    tiebreak) so the WHOLE pipeline — clustering included — has an exact
    SQL oracle; the production form swaps in the seeded full trainer
    (`kmeans_cluster_embeddings`).

    Scale: this is exactly why SemDeDup clusters first — the exact
    cosine join runs only INSIDE clusters, so with k grown proportionally
    to n (SemDeDup uses ~0.1-1% of n) the per-cluster pair space stays
    bounded and the total work is n x (cluster size), never n^2. The
    plan: broadcast k centroid rows -> JVM argmin assignment (one
    |vectors|-keyed rank shuffle) -> cluster-keyed self-join (one
    shuffle, both sides co-partitioned on cluster) -> distinct dropped
    ids -> anti-join. tau sits inside the synthetic corpus's observed
    similarity range (no true near-dups exist in it); the rule
    ("any smaller-id neighbor") matches `incremental_dedup_minhash`'s
    greedy min-id family."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    cent = emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("c")
    )
    d2 = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "e", "c_id", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("c_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id", "e", F.col("c_id").cast("long").alias("cluster"),
            _l2norm(F.col("e")).alias("nrm"),
        )
    )
    a = assigned.where(F.col("nrm") > 0).select(
        F.col("vec_id").alias("ia"), F.col("cluster").alias("ca"),
        F.col("e").alias("ea"), F.col("nrm").alias("na"),
    )
    b = assigned.where(F.col("nrm") > 0).select(
        F.col("vec_id").alias("ib"), F.col("cluster").alias("cb"),
        F.col("e").alias("eb"), F.col("nrm").alias("nb"),
    )
    dropped = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("ia") < F.col("ib")))
        .where(
            _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            >= tau
        )
        .select(F.col("ib").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "cluster"
    )


# ---------------------------------------------------------------------------
# Clustering quality (round 7b): exact squared-Euclidean silhouette
# ---------------------------------------------------------------------------

_SILHOUETTE_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE embedding IS NOT NULL),
cent AS (SELECT vec_id AS c_id, v, i FROM ex WHERE vec_id < {_KM_K}),
dist AS (
  SELECT e.vec_id, c.c_id, SUM((e.v - c.v) * (e.v - c.v)) AS d2
  FROM ex e JOIN cent c ON e.i = c.i GROUP BY e.vec_id, c.c_id),
assign AS (
  SELECT vec_id, c_id AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) rn
    FROM dist) WHERE rn = 1),
sq AS (SELECT vec_id, SUM(v * v) AS sq FROM ex GROUP BY vec_id),
csize AS (SELECT cluster, COUNT(*) AS cn FROM assign GROUP BY cluster),
csq AS (SELECT a.cluster, SUM(s.sq) AS ssq
        FROM assign a JOIN sq s USING (vec_id) GROUP BY a.cluster),
csum AS (SELECT a.cluster, e.i, SUM(e.v) AS s
         FROM assign a JOIN ex e USING (vec_id) GROUP BY a.cluster, e.i),
xdot AS (SELECT e.vec_id, c.cluster, SUM(e.v * c.s) AS xd
         FROM ex e JOIN csum c ON e.i = c.i GROUP BY e.vec_id, c.cluster),
pc AS (
  SELECT x.vec_id, a.cluster AS own, x.cluster AS tc, cs.cn,
         cs.cn * s.sq - 2 * x.xd + cq.ssq AS tot
  FROM xdot x
  JOIN assign a ON a.vec_id = x.vec_id
  JOIN csize cs ON cs.cluster = x.cluster
  JOIN csq cq ON cq.cluster = x.cluster
  JOIN sq s ON s.vec_id = x.vec_id),
ab AS (
  SELECT vec_id, own,
         MAX(CASE WHEN tc = own AND cn > 1 THEN tot / (cn - 1) END) AS a_i,
         MIN(CASE WHEN tc <> own THEN tot / cn END) AS b_i
  FROM pc GROUP BY vec_id, own),
sil AS (
  SELECT own, CASE
      WHEN a_i IS NULL OR b_i IS NULL THEN 0.0
      WHEN a_i < b_i THEN (b_i - a_i) / b_i
      WHEN a_i > b_i THEN (b_i - a_i) / a_i
      ELSE 0.0 END AS s
  FROM ab)
SELECT CAST(own AS BIGINT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
       round(AVG(s), 6) AS mean_silhouette
FROM sil GROUP BY own
"""


@REG.register("kmeans_silhouette", oracle=_SILHOUETTE_ORACLE)
def kmeans_silhouette(
    spark: SparkSession, sf_dir: str, *, k: int = _KM_K
) -> DataFrame:
    """Per-cluster mean silhouette under SQUARED Euclidean distance —
    the same metric Spark ML's ClusteringEvaluator computes, and for the
    same reason: squared distance admits the sufficient-statistics
    identity  sum_{y in C} d2(x, y) = |C|*||x||^2 - 2*x.sum(C) +
    sum_{y in C} ||y||^2,  so a(i)/b(i) come from ONE pass over the
    points against k broadcast cluster aggregates (count, component
    sums, sum of squared norms). Cost is O(n*k*dim) with no pairwise
    join — the plain-Euclidean silhouette is n^2 and does not scale;
    this one does, at 100 TB like anywhere else.

    Clustering is the deterministic one-step assignment shared with
    `dedup_semantic_kmeans`/`kmeans_assign_exact` (first-k centroids,
    argmin, smallest-id tiebreak), which keeps the WHOLE metric —
    assignment included — exactly SQL-oracled. Singleton clusters score
    0 by the standard convention (a(i) undefined), as does the
    degenerate one-cluster corpus (b(i) undefined)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    cent = emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("c")
    )
    d2 = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("c_id"))
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "e", "c_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "e", F.col("c_id").alias("cluster"))
    )
    pts = assigned.withColumn("sq", _dot(F.col("e"), F.col("e")))
    # per-cluster sufficient statistics: k rows of (cn, ssq, csum[dim]);
    # the component-sum shuffle carries one row per (cluster, dim), the
    # packed-array reassembly is the documented collect_list(struct) form
    csum = (
        pts.select("cluster", F.posexplode("e").alias("i", "v"))
        .groupBy("cluster", "i")
        .agg(F.sum("v").alias("s"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "s"))), lambda st: st["s"]
            ).alias("csum")
        )
    )
    cstats = (
        pts.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cn"), F.sum("sq").alias("ssq"))
        .join(csum, "cluster")
        .select(F.col("cluster").alias("tc"), "cn", "ssq", "csum")
    )
    tot = F.col("cn") * F.col("sq") - 2 * _dot(F.col("e"), F.col("csum")) + F.col("ssq")
    pc = (
        pts.select("vec_id", F.col("cluster").alias("own"), "e", "sq")
        .crossJoin(F.broadcast(cstats))
        .select("vec_id", "own", "tc", "cn", tot.alias("tot"))
    )
    ab = pc.groupBy("vec_id", "own").agg(
        F.max(
            F.when((F.col("tc") == F.col("own")) & (F.col("cn") > 1),
                   F.col("tot") / (F.col("cn") - 1))
        ).alias("a_i"),
        F.min(
            F.when(F.col("tc") != F.col("own"), F.col("tot") / F.col("cn"))
        ).alias("b_i"),
    )
    s = (
        F.when(F.col("a_i").isNull() | F.col("b_i").isNull(), F.lit(0.0))
        .when(F.col("a_i") < F.col("b_i"),
              (F.col("b_i") - F.col("a_i")) / F.col("b_i"))
        .when(F.col("a_i") > F.col("b_i"),
              (F.col("b_i") - F.col("a_i")) / F.col("a_i"))
        .otherwise(F.lit(0.0))
    )
    return (
        ab.select(F.col("own").cast("long").alias("cluster"), s.alias("s"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
        )
    )




@REG.register("ann_recall_eval")  # rows-only: evaluates seeded approximate methods
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality report as a first-class operator: recall@TOP_K of every
    top-k-shaped ANN variant against `knn_cosine_exact`, per method —
    the evaluation a platform runs BEFORE switching retrieval from brute
    force to an index, here queryable instead of buried in a test suite
    (tests/test_search.py pins the floors; this emits the numbers).
    `knn_cosine_gemm` is exact-by-construction and rides along as the
    control row (recall 1.0 or the harness itself is broken).

    Shape: every method's result is a (query_id, neighbor_id) set of at
    most N_QUERIES×TOP_K rows — the joins and aggregates below run on
    KB-sized frames regardless of corpus scale; the real cost is the
    methods' own index builds, which run FRESH inside every call through
    the same builders and probes as their registered keys (round 15: no
    per-session memos). The PQ and IVF+PQ indexes share one build: the
    codebooks are trained once, and the PQ code table is the IVF+PQ one
    without its cluster column (a code is a pure function of (books,
    vector)). Output: (method, macro_recall, min_recall, n_queries),
    macro = mean per-query recall, min = worst query."""
    from ..ckpt import ckpt_tracked, drop_ckpt

    # the exact frame is referenced 8x in the returned plan (4 hits
    # joins + 4 per-query spines) and Spark has no cross-branch subplan
    # reuse for it — localCheckpoint pins ~N_QUERIES*TOP_K rows and cuts
    # 8 brute-force scans to 1 (measured 9.2 s -> see bench). Tracked
    # (round-12 advice): every intermediate checkpoint is released
    # below once the final 4-row report is itself materialized, so
    # repeated invocations in a long-lived session pin nothing.
    exact, exact_ids = ckpt_tracked(
        knn_cosine_exact(spark, sf_dir).select("query_id", "neighbor_id")
    )
    dead_ids: set = set(exact_ids)
    emb = _embeddings(spark, sf_dir)
    # the sample comes from the parquet frame, as in knn_cosine_pq: its
    # row order feeds the seeded codebook init
    sample = _pq_sample(emb)
    if len(sample) < 2:
        pq = ivfpq = spark.createDataFrame([], _TOPK_SCHEMA)
    else:
        books = _pq_train_codebooks([r["u"] for r in sample])
        _, centroids, codes, _ = _ivfpq_build(spark, emb, _IVFPQ_CLUSTERS, books=books)
        codes, ids = ckpt_tracked(codes)
        dead_ids |= ids
        queries = _pq_queries(emb, N_QUERIES, sample)
        pq_codes = codes.drop("cluster")
        pq = _pq_probe(spark, emb, books, _probe_grain(pq_codes, pq_codes.count()), queries)
        ivfpq = _ivfpq_probe(
            spark, emb, books, centroids, codes, queries, _IVFPQ_NPROBE
        )
    methods = [
        ("gemm", knn_cosine_gemm(spark, sf_dir)),
        ("ivf", knn_cosine_ivf(spark, sf_dir)),
        ("pq", pq),
        ("ivfpq", ivfpq),
    ]
    per_q_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    outs = []
    for name, result in methods:
        # each method frame is <= N_QUERIES*TOP_K rows but its plan is a
        # full index probe — checkpoint so the returned union executes
        # against 4 tiny pinned frames instead of re-probing every index
        approx, ids = ckpt_tracked(
            result.select("query_id", "neighbor_id", F.lit(name).alias("method"))
        )
        dead_ids |= ids
        hits = (
            approx.join(exact, ["query_id", "neighbor_id"])
            .groupBy("method", "query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        per_q = (
            per_q_exact.join(
                hits, "query_id", "left"
            )  # queries an index missed entirely count as recall 0
            .select(
                F.lit(name).alias("method"),
                "query_id",
                (
                    F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_exact")
                ).alias("r"),
            )
        )
        outs.append(
            per_q.groupBy("method").agg(
                F.round(F.avg("r"), 6).alias("macro_recall"),
                F.round(F.min("r"), 6).alias("min_recall"),
                F.count(F.lit(1)).cast("long").alias("n_queries"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    # Materialize the 4-row report itself, then release every
    # intermediate checkpoint — the returned frame no longer references
    # them, so the call leaves only these 4 rows pinned.
    final = res.orderBy("method").localCheckpoint(eager=True)
    drop_ckpt(final, dead_ids)
    return final
