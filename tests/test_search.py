"""TF-IDF search: self-retrieval sanity + determinism + top-k contract.
Plus ANN quality: measured recall floors for the LSH and IVF approximate
paths against exact ground truth (the only way their green status bounds
result *quality*, not just determinism)."""

import hashlib
import json
import os

import numpy as np
import pytest

from spark_text_clustering_spark.catalog import load_table
from spark_text_clustering_spark.operators.search import search_corpus

from .conftest import SF_SMALL
from .oracle_harness import frame_to_multiset

# Row count + multiset hash of each live ANN key and ann_recall_eval at
# SF_ORACLE, recorded before the index build/probe paths were unified:
# the refactor must leave every returned row unchanged.
ANN_GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "goldens", "ann_rows.json")


def _collect_digest(df):
    """Collect ``df``; return (rows, {"rows": n, "sha256": multiset hash})."""
    import pandas as pd

    rows = df.collect()
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)
    digest = hashlib.sha256(repr(frame_to_multiset(pdf)).encode()).hexdigest()
    return rows, {"rows": len(rows), "sha256": digest}


def _assert_ann_golden(key, digest):
    with open(ANN_GOLDEN_PATH) as f:
        golden = json.load(f)[key]
    assert digest == golden, f"{key}: {digest} != golden {golden}"


def test_search_self_retrieval(spark):
    """Querying with a document's own text must rank that document #1
    (cosine(v, v) = 1 is maximal)."""
    docs = load_table(spark, SF_SMALL, "documents")
    sample = docs.limit(1).collect()[0]
    out = search_corpus(spark, SF_SMALL, [sample["text"]], k=3).collect()
    assert out, "no results"
    top = [r for r in out if r["rank"] == 1][0]
    # the exact same text may exist under several doc_ids; top score must be
    # (near) 1.0 and the original doc must appear in the top ranks
    assert top["score"] >= 0.999
    assert sample["doc_id"] in [r["doc_id"] for r in out]


def test_search_topk_contract_and_determinism(spark):
    out1 = search_corpus(spark, SF_SMALL, ["table scan join", "stream window"], k=5).collect()
    out2 = search_corpus(spark, SF_SMALL, ["table scan join", "stream window"], k=5).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows)
    assert key(out1) == key(out2)
    by_q = {}
    for r in out1:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_ivf_stored_index_matches_per_query_fit(spark):
    """The stored partitioned IVF index (same quantizer seed) must return
    exactly the per-query-fit IVF results."""
    from spark_text_clustering_spark.operators.similarity import (
        knn_cosine_ivf,
        knn_cosine_ivf_stored,
    )
    from .conftest import SF_ORACLE

    live_rows, digest = _collect_digest(knn_cosine_ivf(spark, SF_ORACLE))
    _assert_ann_golden("knn_cosine_ivf", digest)
    live = {tuple(r) for r in live_rows}
    stored = {tuple(r) for r in knn_cosine_ivf_stored(spark, SF_ORACLE).collect()}
    assert stored == live


def _exact_topk_sets(spark, sf_dir):
    """query_id -> set(neighbor_id) from the oracle-checked exact operator."""
    from spark_text_clustering_spark.operators.similarity import knn_cosine_exact

    out = {}
    for r in knn_cosine_exact(spark, sf_dir).collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(exact: dict, approx: dict) -> float:
    return sum(
        len(nb & approx.get(q, set())) / len(nb) for q, nb in exact.items()
    ) / len(exact)


def test_ann_recall_ivf(spark):
    """Measured recall@5 of the IVF probe vs exact brute force, pinned at
    floors observed on the near-random testdata embeddings (worst case for
    a coarse quantizer — real corpora cluster tighter):

      sf0.01: nprobe=4 -> 0.48, nprobe=8 -> 0.80, nprobe=16 -> 1.00
      sf0.1:  nprobe=4 -> 0.58, nprobe=8 -> 0.86, nprobe=16 -> 1.00

    nprobe == n_clusters must DEGENERATE TO EXACT (probing every partition
    is brute force) — asserted as set equality, which also cross-checks the
    oracle-verified exact operator against the IVF scoring path."""
    from spark_text_clustering_spark.operators.similarity import knn_cosine_ivf
    from .conftest import SF_ORACLE

    exact = _exact_topk_sets(spark, SF_ORACLE)
    assert exact, "exact ground truth is empty"

    by_probe = {
        p: {} for p in (4, 8, 16)
    }
    for p in by_probe:
        for r in knn_cosine_ivf(spark, SF_ORACLE, nprobe=p).collect():
            by_probe[p].setdefault(r["query_id"], set()).add(r["neighbor_id"])

    assert _recall(exact, by_probe[4]) >= 0.40
    assert _recall(exact, by_probe[8]) >= 0.75
    # recall must not degrade as the probe widens (each probe set is a
    # superset of candidates)
    assert _recall(exact, by_probe[8]) >= _recall(exact, by_probe[4])
    assert by_probe[16] == exact  # full probe == brute force, exactly


def test_ann_recall_lsh(spark):
    """Pair-recall of the LSH bucket join vs exact pair enumeration at a
    threshold matched to the data (cos >= 0.4 ⇔ euclid <= sqrt(1.2) on
    unit vectors). Measured 0.983 with 4 hash tables / 1.000 with 8 at
    sf0.01 — pinned at 0.9 / 0.95. Precision must be exact (the bucket
    join post-filters on true distance, so no pair below the threshold
    may appear)."""
    from pyspark.sql import functions as F
    from spark_text_clustering_spark.operators.similarity import knn_cosine_lsh
    from .conftest import SF_ORACLE

    rows = (
        load_table(spark, SF_ORACLE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    ids, mat = ids[nrm > 0], mat[nrm > 0] / nrm[nrm > 0, None]
    cos = mat @ mat.T
    iu = np.triu_indices(len(ids), 1)

    t_cos = 0.4
    true_pairs = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(*iu)
        if cos[i, j] >= t_cos
    }
    assert true_pairs, "threshold admits no true pairs — test is vacuous"
    thr = float(np.sqrt(2 - 2 * t_cos))

    for n_tables, floor in ((4, 0.90), (8, 0.95)):
        found = {
            (int(r["id_a"]), int(r["id_b"]))
            for r in knn_cosine_lsh(
                spark, SF_ORACLE, euclid_threshold=thr, num_hash_tables=n_tables
            ).collect()
        }
        recall = len(found & true_pairs) / len(true_pairs)
        assert recall >= floor, f"nht={n_tables}: recall {recall:.3f} < {floor}"
        # precision: every returned pair really is within the threshold
        # (tiny tolerance for the euclid<->cos float roundtrip at the edge)
        near_true = {
            (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
            for i, j in zip(*iu)
            if cos[i, j] >= t_cos - 1e-9
        }
        assert found <= near_true


def test_int8_quantization_cosine_error_bounded(spark):
    """The int8 quantization docstring claims ~0.3% cosine error at d=64 —
    measure it through the operator's real output (parse q8/scale back,
    dequantize, compare pairwise cosines against float embeddings).
    Measured at sf0.01: mean 0.0008, p99 0.0027, max 0.0047 — pinned at
    mean<=0.002 / max<=0.01."""
    from pyspark.sql import functions as F
    from spark_text_clustering_spark.operators.similarity import (
        embedding_quantize_int8,
    )
    from .conftest import SF_ORACLE

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_ORACLE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .collect()
    }
    quant = {
        r["vec_id"]: (r["scale"], np.array(r["q8"].split(","), dtype=np.float64))
        for r in embedding_quantize_int8(spark, SF_ORACLE).collect()
        if r["vec_id"] in emb
    }
    ids = sorted(
        i for i in quant if np.linalg.norm(emb[i]) > 0 and quant[i][0] > 0
    )
    M = np.array([emb[i] for i in ids])
    D = np.array([quant[i][1] * quant[i][0] / 127.0 for i in ids])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    Dn = D / np.linalg.norm(D, axis=1, keepdims=True)

    rng = np.random.default_rng(42)
    idx = rng.integers(0, len(ids), size=(20_000, 2))
    c_true = np.einsum("ij,ij->i", Mn[idx[:, 0]], Mn[idx[:, 1]])
    c_q = np.einsum("ij,ij->i", Dn[idx[:, 0]], Dn[idx[:, 1]])
    err = np.abs(c_true - c_q)
    assert err.mean() <= 0.002, f"mean cosine err {err.mean():.5f}"
    assert err.max() <= 0.01, f"max cosine err {err.max():.5f}"


def test_ivf_stored_index_scan_partition_prunes(spark):
    """Probing the stored index must show cluster partition filters in the
    scan — the directory-pruning property that makes IVF cheap at scale."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.similarity import build_ivf_index
    from .conftest import SF_ORACLE

    index_path, _ = build_ivf_index(spark, SF_ORACLE)
    probe = spark.read.parquet(index_path).where(F.col("cluster").isin([1, 3]))
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cluster" in plan


def test_pq_stored_index_matches_memoized(spark):
    """The stored-parquet PQ index (codebooks + code table read back from
    disk, no retrain/re-encode) must return exactly the live
    `knn_cosine_pq` results — both run the shared `_pq_probe`
    whose shortlist is the global ADC top-RERANK, deterministic given the
    code-table CONTENT regardless of its partitioning."""
    from spark_text_clustering_spark.operators.similarity import (
        knn_cosine_pq,
        knn_cosine_pq_stored,
    )
    from .conftest import SF_ORACLE

    live_rows, digest = _collect_digest(knn_cosine_pq(spark, SF_ORACLE))
    _assert_ann_golden("knn_cosine_pq", digest)
    live = {tuple(r) for r in live_rows}
    stored = {tuple(r) for r in knn_cosine_pq_stored(spark, SF_ORACLE).collect()}
    assert stored == live


def test_ann_recall_pq(spark):
    """Measured recall@5 of the PQ ADC + exact-re-rank pipeline vs exact
    brute force: 1.00 at sf0.01 / 0.96 at sf0.1 with m=8 subspaces,
    k=256 centroids (8-byte codes, 64x compression), shortlist 100.
    Pinned at 0.9 on the oracle SF. Also pins determinism (seeded
    training + memoized codebooks) and the output contract (TOP_K rows
    per query, rank 1..k)."""
    from spark_text_clustering_spark.operators.similarity import TOP_K, knn_cosine_pq
    from .conftest import SF_ORACLE

    exact = _exact_topk_sets(spark, SF_ORACLE)
    assert exact, "exact ground truth is empty"
    got: dict = {}
    rows = knn_cosine_pq(spark, SF_ORACLE).collect()
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert _recall(exact, got) >= 0.9
    for q, s in got.items():
        assert len(s) == TOP_K
    rows2 = knn_cosine_pq(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_ann_recall_ivfpq(spark):
    """IVF+PQ composition: measured recall@5 0.80 (sf0.01) / 0.84 (sf0.1)
    at nprobe=8/16 clusters — statistically the same as IVF alone at the
    same nprobe (0.80/0.86), i.e. the PQ compressed-code scan + exact
    re-rank stage costs NO recall beyond the coarse pruning. Pinned at
    0.7; probing everything with PQ must still recall >= the default."""
    from spark_text_clustering_spark.operators.similarity import knn_cosine_ivfpq
    from .conftest import SF_ORACLE

    exact = _exact_topk_sets(spark, SF_ORACLE)
    assert exact, "exact ground truth is empty"
    got: dict = {}
    for r in knn_cosine_ivfpq(spark, SF_ORACLE).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert _recall(exact, got) >= 0.7
    full: dict = {}
    for r in knn_cosine_ivfpq(spark, SF_ORACLE, nprobe=16).collect():
        full.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert _recall(exact, full) >= _recall(exact, got)


def test_ivfpq_stored_index_matches_memoized(spark):
    """The stored-parquet IVF+PQ index (centroids + codebooks + cluster-
    partitioned code table read from disk) must return exactly the
    memoized `knn_cosine_ivfpq` results, and probing it must show cluster
    partition filters in the scan — the directory-pruning property."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.similarity import (
        build_ivfpq_index,
        knn_cosine_ivfpq,
        knn_cosine_ivfpq_stored,
    )
    from .conftest import SF_ORACLE

    live_rows, digest = _collect_digest(knn_cosine_ivfpq(spark, SF_ORACLE))
    _assert_ann_golden("knn_cosine_ivfpq", digest)
    live = {tuple(r) for r in live_rows}
    stored = {tuple(r) for r in knn_cosine_ivfpq_stored(spark, SF_ORACLE).collect()}
    assert stored == live

    base, _, _ = build_ivfpq_index(spark, SF_ORACLE)
    probe = spark.read.parquet(f"{base}/codes").where(F.col("cluster").isin([1, 3]))
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cluster" in plan


def test_lsh_stored_index_matches_live(spark):
    """The stored LSH bucket index (same model seed/bucket length, read
    back from partitioned parquet) must return the same neighbor-pair set
    as the live approxSimilarityJoin, with cosine values equal at the
    operator's 6-decimal output precision; probing it must show
    partition filters (the directory-pruning property)."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.similarity import (
        build_lsh_index,
        knn_cosine_lsh,
        knn_cosine_lsh_stored,
    )
    from .conftest import SF_ORACLE

    live_rows, digest = _collect_digest(knn_cosine_lsh(spark, SF_ORACLE))
    _assert_ann_golden("knn_cosine_lsh", digest)
    live = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in live_rows}
    stored = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in knn_cosine_lsh_stored(spark, SF_ORACLE).collect()
    }
    assert stored.keys() == live.keys()
    for k in live:
        assert abs(stored[k] - live[k]) <= 1e-6, (k, stored[k], live[k])

    base = build_lsh_index(spark, SF_ORACLE)
    probe = spark.read.parquet(f"{base}/buckets").where(
        (F.col("t") == 0) & (F.col("bucket") == 0)
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "bucket" in plan


def test_kmeans_cluster_embeddings_properties(spark):
    """Seeded k-means summary: deterministic across runs, k non-empty
    clusters covering every vector, and total within-cluster SSE strictly
    below the k=1 (grand-centroid) SSE — the minimal 'it actually
    clustered' bar for a seeded iterative op with no SQL oracle."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.catalog import load_table
    from spark_text_clustering_spark.operators.similarity import (
        _KM_K,
        kmeans_cluster_embeddings,
    )

    from .conftest import SF_ORACLE

    r1 = kmeans_cluster_embeddings(spark, SF_ORACLE).collect()
    r2 = kmeans_cluster_embeddings(spark, SF_ORACLE).collect()
    key = lambda rows: sorted((x["cluster"], x["n_vecs"], x["sse"]) for x in rows)
    assert key(r1) == key(r2)  # same seed -> same model
    assert len(r1) == _KM_K
    assert all(x["n_vecs"] > 0 for x in r1)

    emb = (
        load_table(spark, SF_ORACLE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    )
    n_vec = emb.count()
    assert sum(x["n_vecs"] for x in r1) == n_vec
    # k=1 SSE: sum ||x - mean||^2 = sum ||x||^2 - n*||mean||^2
    d = len(emb.first()["e"])
    sums = emb.select(
        *[F.sum(F.col("e")[i]).alias(f"s{i}") for i in range(d)],
        F.sum(
            F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("ss"),
    ).collect()[0]
    mean_sq = sum((sums[f"s{i}"] / n_vec) ** 2 for i in range(d))
    sse_k1 = sums["ss"] - n_vec * mean_sq
    sse_k = sum(x["sse"] for x in r1)
    # near-random 64-dim testdata: k·d centroid params can only explain a
    # few percent of pure noise variance (measured 0.928× at sf0.01), so
    # pin a strict-but-honest improvement bound rather than a big one
    assert sse_k < 0.97 * sse_k1, (sse_k, sse_k1)


def test_pca_variance_and_projection_properties(spark):
    """PCA: explained variance non-increasing and (near-random 64-dim
    data) each component explains roughly 1/64 of variance; projections
    are deterministic within a session and preserve pairwise structure
    better than an arbitrary axis-drop of the same rank (total captured
    variance >= k/d of the total, with strict improvement over the
    worst-k axes)."""
    import numpy as np

    from spark_text_clustering_spark.operators.similarity import (
        embedding_pca_variance,
        pca_project,
    )

    from .conftest import SF_ORACLE

    ev = [
        r["explained_variance"]
        for r in embedding_pca_variance(spark, SF_ORACLE)
        .orderBy("component")
        .collect()
    ]
    assert len(ev) == 8
    assert all(ev[i] >= ev[i + 1] - 1e-9 for i in range(len(ev) - 1))
    # top-8 principal axes must capture at least their proportional share
    assert sum(ev) >= 8 / 64
    # determinism within the session
    ev2 = [
        r["explained_variance"]
        for r in embedding_pca_variance(spark, SF_ORACLE)
        .orderBy("component")
        .collect()
    ]
    assert ev == ev2

    proj = pca_project(spark, SF_ORACLE).orderBy("vec_id").limit(50).collect()
    mat = np.array([r["proj"] for r in proj])
    assert mat.shape == (50, 8)
    # projected coordinates are centered-ish and non-degenerate
    assert np.abs(mat).max() > 0
    assert np.linalg.matrix_rank(mat) == 8


def test_stored_ann_honors_n_queries_past_sample_bound(spark, tmp_path):
    """round-7 ADVICE regression: the stored PQ/IVF+PQ probes memoize a
    driver query sample collected with vec_id < _PQ_SAMPLE (512); asking
    for MORE queries than that must re-collect and honor the argument,
    not silently truncate the query set to the cached bound. Exercised on
    a synthetic 700-vector corpus (the shipped test SFs stop at 500
    vectors, below the bound)."""
    import os

    from spark_text_clustering_spark.operators.similarity import (
        _PQ_SAMPLE,
        knn_cosine_ivfpq,
        knn_cosine_ivfpq_stored,
        knn_cosine_pq_stored,
    )

    rng = np.random.default_rng(7)
    n, d = 700, 16
    want = _PQ_SAMPLE + 88  # 600: strictly between the bound and n
    rows = [
        (i, [float(x) for x in rng.normal(size=d)], int(i % 5))
        for i in range(n)
    ]
    sf = str(tmp_path / "sf_bigvec")
    os.makedirs(sf)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(sf, "embeddings.parquet"))

    for fn in (knn_cosine_pq_stored, knn_cosine_ivfpq, knn_cosine_ivfpq_stored):
        out = fn(spark, sf, n_queries=want)
        got = out.select("query_id").distinct().count()
        assert got == want, f"{fn.__name__}: {got} != {want}"
    # and the small-query path still works after the big one (the memoized
    # sample must not have been poisoned by the fresh oversized collect)
    small = knn_cosine_pq_stored(spark, sf, n_queries=20)
    assert small.select("query_id").distinct().count() == 20


def test_ann_recall_eval_matches_golden(spark):
    """The recall report is built from the live IVF/PQ/IVF+PQ builders
    and probes; its rows must match the golden recorded before those
    paths were unified."""
    from spark_text_clustering_spark.operators.similarity import ann_recall_eval
    from .conftest import SF_ORACLE

    _, digest = _collect_digest(ann_recall_eval(spark, SF_ORACLE))
    _assert_ann_golden("ann_recall_eval", digest)


def test_bm25_stored_matches_live(spark):
    """The stored-inverted-index probe must reproduce the live
    search_bm25_scores EXACTLY — same docs, same n_terms_hit, same
    rounded scores (they share one DuckDB oracle, so any drift here
    would also be a driver red)."""
    from spark_text_clustering_spark.operators.search import (
        search_bm25_scores,
        search_bm25_stored,
    )
    from .conftest import SF_ORACLE

    live = sorted(
        tuple(r) for r in search_bm25_scores(spark, SF_ORACLE).collect()
    )
    stored = sorted(
        tuple(r) for r in search_bm25_stored(spark, SF_ORACLE).collect()
    )
    assert len(live) > 0
    assert stored == live


def test_bm25_stored_postings_scan_partition_prunes(spark):
    """The probe's postings scan must carry bucket partition filters —
    the directory-pruning property that bounds per-query cost by posting
    list size, not corpus size."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.search import (
        _BM25_BUCKETS,
        _BM25_TERMS,
        build_bm25_index,
    )
    from .conftest import SF_ORACLE

    base = build_bm25_index(spark, SF_ORACLE)
    probed = sorted(
        r["b"]
        for r in spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(_BM25_BUCKETS)).alias("b"))
        .distinct()
        .collect()
    )
    assert len(probed) <= len(_BM25_TERMS) < _BM25_BUCKETS
    probe = spark.read.parquet(f"{base}/postings").where(F.col("bucket").isin(probed))
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "bucket" in plan


def test_silhouette_bounds_and_totals(spark):
    """Silhouette is in [-1, 1] by construction; per-cluster counts must
    sum to the corpus size (every non-null vector scored exactly once)."""
    from spark_text_clustering_spark.catalog import load_table
    from spark_text_clustering_spark.operators.similarity import kmeans_silhouette
    from .conftest import SF_ORACLE

    rows = kmeans_silhouette(spark, SF_ORACLE).collect()
    assert rows, "no clusters scored"
    for r in rows:
        assert -1.0 <= r["mean_silhouette"] <= 1.0, r
    n = (
        load_table(spark, SF_ORACLE, "embeddings")
        .where("embedding IS NOT NULL")
        .count()
    )
    assert sum(r["n_points"] for r in rows) == n


if __name__ == "__main__":  # print the ANN row digests for one scale factor
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from spark_text_clustering_spark.registry import QUERIES
    from spark_text_clustering_spark.session import get_session

    from .conftest import SF_ORACLE

    ann_keys = [
        f"knn_cosine_{kind}{suffix}"
        for kind in ("lsh", "ivf", "pq", "ivfpq")
        for suffix in ("", "_stored")
    ] + ["ann_recall_eval"]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_ORACLE
    spark = get_session("ann-digests", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    digests = {key: _collect_digest(QUERIES[key](spark, sf_dir))[1] for key in ann_keys}
    print(json.dumps({"sf_dir": sf_dir, "digests": digests}, indent=1, sort_keys=True))
    spark.stop()
