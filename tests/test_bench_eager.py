"""Guard for bench.py's EAGER_KEYS classification (round 9, VERDICT r8 #6).

The bench times `df.write(noop)` for lazy keys and construction+write for
EAGER_KEYS — keys whose registered callable does driver-side work (model
fits, iterative localCheckpoint loops, streaming replays) before the
returned frame exists. Twice now a new eager key was benched lazily and
reported a fictitious number (round-5 `bpe_train_merges` 0.24 s vs ~3.8 s
real; round-8 `graph_connected_components` 0.014 s vs ~5 s real). This test
mechanizes the check: any HEADLINE key that launches Spark jobs at
plan-construction time MUST be in EAGER_KEYS.

Detection is exact, not time-threshold based: each candidate key is
constructed twice (the first call warms per-app memos, matching the bench's
warmup pass) and the second construction runs inside a dedicated job group;
`statusTracker().getJobIdsForGroup` then reports every job it launched.
Zero jobs == genuinely lazy. Keys already in EAGER_KEYS are skipped — their
timer already wraps construction, so running their (expensive) eager work
here would only slow the suite.
"""

import sys

import pytest

sys.path.insert(0, "/root/repo")

import bench
from spark_text_clustering_spark.registry import QUERIES

from .conftest import SF_SMALL

_LAZY_HEADLINE = sorted(set(bench.HEADLINE) - bench.EAGER_KEYS)


def test_eager_keys_are_headline_keys():
    unknown = bench.EAGER_KEYS - set(bench.HEADLINE)
    assert not unknown, f"EAGER_KEYS not in HEADLINE (stale entries?): {unknown}"


@pytest.mark.parametrize("key", _LAZY_HEADLINE)
def test_lazy_headline_key_launches_no_construction_jobs(spark, key):
    sc = spark.sparkContext
    QUERIES[key](spark, SF_SMALL)  # warm memos, as the bench's warmup pass does
    gid = f"eager-guard-{key}"
    sc.setJobGroup(gid, gid)
    try:
        QUERIES[key](spark, SF_SMALL)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(gid)
    assert not jobs, (
        f"{key} launched {len(jobs)} Spark job(s) at plan-construction time "
        f"but is not in bench.EAGER_KEYS — its bench timing would miss that "
        f"work (the round-5 bpe / round-8 CC bug class). Add it to EAGER_KEYS."
    )


# Round 10 (VERDICT r9 #1): BENCH_r09's stored-ANN rows diverged ~9× from
# the builder's isolated measurements (knn_cosine_ivfpq_stored 21.84 s vs
# 2.16–2.48 s); one candidate cause was the measured (second) construction
# re-entering the IVF/PQ k-means fits — i.e. a miss on the
# similarity._STORED_INDEX_MEMO keys. This test pins the memo contract with the same
# job-group instrument: after one full construction (the bench's warmup
# pass), a SECOND construction of each stored key may launch only
# read/probe-sized work. A KMeans re-fit alone launches ~20+ jobs
# (maxIter=20) and codebook training collects more, so a fit re-entry
# cannot stay under the bound — if this passes, any future bench
# divergence on these keys is load or I/O, not a memo miss, and the
# t_construct/t_write split in BENCH_FULL.json names which.
_STORED_ANN_KEYS = ["knn_cosine_pq_stored", "knn_cosine_ivfpq_stored"]

# read/probe-sized: the loaded codebook/centroid artifacts are memoized
# with the index per (app, sf_dir), so the second construction's only
# permitted actions are the fresh query collect, the code-table parquet
# open and probe-cluster planning
_REMEASURE_JOB_BOUND = 4


@pytest.mark.parametrize("key", _STORED_ANN_KEYS)
def test_stored_ann_remeasure_construction_skips_the_fits(spark, key):
    sc = spark.sparkContext
    QUERIES[key](spark, SF_SMALL)  # build index + warm per-app artifact memos
    gid = f"stored-ann-remeasure-{key}"
    sc.setJobGroup(gid, gid)
    try:
        QUERIES[key](spark, SF_SMALL)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(gid)
    assert len(jobs) <= _REMEASURE_JOB_BOUND, (
        f"{key}: second construction launched {len(jobs)} Spark jobs — "
        f"more than the read/probe bound of {_REMEASURE_JOB_BOUND}. The "
        f"stored-index memo (_STORED_INDEX_MEMO) is being missed and the k-means "
        f"fits are re-running; the bench's measured pass would pay the "
        f"full index-build cost (the BENCH_r09 21.8 s mystery class)."
    )


def test_summary_schema_identical_partial_vs_final():
    """Round-10 advice: a killed bench run's partial BENCH_FULL.json used
    to omit 'sf' and 'detail', so partial and final files had different
    schemas. The shared _summary() builder must emit the SAME field set,
    with 'partial' as the only differentiator — in both the clean and the
    has-failures variants."""
    t = {"q1": 1.0}
    d = {"q1": {"runs": [1.0]}}
    for failed in ({}, {"qbad": "Boom: x"}):
        part = bench._summary(t, d, failed, partial=True)
        fin = bench._summary(t, d, failed, partial=False)
        assert set(part) - set(fin) == {"partial"}
        assert part["partial"] is True
        assert "partial" not in fin
        for k in ("metric", "value", "unit", "queries", "sf", "n_runs",
                  "detail", "query_detail"):
            assert k in fin, f"missing {k}"
        assert fin["detail"] == "BENCH_FULL.json"
    bad = bench._summary(t, d, {"qbad": "Boom"}, partial=False)
    assert bad["n_failed"] == 1 and bad["value_complete"] is False


def test_ann_recall_eval_does_not_invalidate_stored_ann_memos(spark):
    """Round 12 (VERDICT r11 #3): `knn_cosine_ivfpq_stored` swung 21.8 s →
    1.5 s → 8.2 s across three rounds; the remaining code-side suspect
    (vs host load) was `ann_recall_eval` running between bench keys and
    somehow invalidating the per-app stored-artifact memos (it invokes
    the memoized IVF/PQ builders itself, and since round 12 it releases
    its own localCheckpoints — which must NOT touch the stored twins'
    artifacts). Pin it: warm the stored key, run ann_recall_eval, then
    re-construct the stored key inside a job group — still at most the
    read/probe bound. If this passes, a future swing on a quiet host
    (bench load1 now recorded per run) is I/O, not memo eviction."""
    from spark_text_clustering_spark.operators import similarity as S

    sc = spark.sparkContext
    QUERIES["knn_cosine_ivfpq_stored"](spark, SF_SMALL)  # warm
    memo_before = set(S._STORED_INDEX_MEMO)
    QUERIES["ann_recall_eval"](spark, SF_SMALL).collect()
    assert memo_before <= set(S._STORED_INDEX_MEMO), (
        "ann_recall_eval evicted stored-ANN memo entries: "
        f"{memo_before - set(S._STORED_INDEX_MEMO)}"
    )
    gid = "stored-ann-after-recall-eval"
    sc.setJobGroup(gid, gid)
    try:
        QUERIES["knn_cosine_ivfpq_stored"](spark, SF_SMALL)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(gid)
    assert len(jobs) <= _REMEASURE_JOB_BOUND, (
        f"stored probe launched {len(jobs)} jobs after ann_recall_eval — "
        "the eval invalidated the stored-index artifacts"
    )
