"""Vectorizer goldens (FIXTURES.md §B mini_corpus) + LDA plausibility
checks (SURVEY §5.2.2-5.2.3)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_text_clustering_spark.catalog import load_table
from spark_text_clustering_spark.ml.vectorize import (
    IDF_FLOOR,
    _tokenize,
    _tokens,
    build_deterministic_vocab,
    clean_documents,
    featurize,
    fit_vectorizer,
    vectorize,
)
from spark_text_clustering_spark.ml.lda import (
    describe_topics_with_terms,
    score_documents,
    topic_report,
    train_lda,
)

from .conftest import SF_SMALL

MINI = [
    (0, "The cat sat, the cat ran!"),
    (1, "dogs dogs dogs run"),
    (2, "the the the"),
    (3, "Cats and dogs running fast"),
]


@pytest.fixture(scope="module")
def mini(spark):
    return spark.createDataFrame(MINI, "doc_id long, text string")


def test_clean_golden(spark, mini):
    got = {
        r["doc_id"]: r["clean_text"]
        for r in clean_documents(mini).select("doc_id", "clean_text").collect()
    }
    assert got[0] == "the cat sat the cat ran"  # punctuation stripped, lowered
    assert got[3] == "cats and dogs running fast"


def test_token_stages_golden(spark, mini):
    model = fit_vectorizer(mini, vocab_size=100, min_doc_freq=2)
    cleaned = clean_documents(mini).where(F.length("clean_text") > 0)
    toks = {
        r["doc_id"]: r["tokens"]
        for r in _tokenize(cleaned, model.stopwords).select("doc_id", "tokens").collect()
    }
    assert toks[0] == ["cat", "sat", "cat", "ran"]  # 'the' removed, dup kept
    assert toks[2] == []  # all-stopword doc -> empty (dropped later by P8)


def test_vocab_deterministic_tiebreak(spark, mini):
    model = fit_vectorizer(mini, vocab_size=100, min_doc_freq=2)
    vocab = model.vocabulary
    # hand-computed: dogs(4), cat(2), then cnt=1 terms lexicographic
    assert vocab == ["dogs", "cat", "cats", "fast", "ran", "run", "running", "sat"]


def test_idf_floor_golden(spark, mini):
    df, model = vectorize(mini, vocab_size=100, min_doc_freq=2)
    from pyspark.ml.functions import vector_to_array

    rows = {
        r["doc_id"]: r["arr"]
        for r in df.select("doc_id", vector_to_array("tfidf").alias("arr")).collect()
    }
    vocab = model.vocabulary
    dogs_idx, run_idx = vocab.index("dogs"), vocab.index("run")
    # m = 3 non-empty docs; df(dogs) = 2 -> idf = log(4/3); df(run) = 1 -> idf 0 -> floor
    assert rows[1][dogs_idx] == pytest.approx(3 * math.log(4 / 3), rel=1e-9)
    assert rows[1][run_idx] == pytest.approx(1 * IDF_FLOOR, rel=1e-9)
    # every active tfidf weight is strictly positive (floor property)
    for arr in rows.values():
        assert all(v > 0 for v in arr if v != 0.0)


@pytest.mark.parametrize("n", [64, 66_000], ids=["narrow_vocab", "wide_vocab"])
def test_idf_floor_stays_sparse(spark, n):
    """M3 scale contract, EVERY vocab width (round 13, ADVICE r12: the
    single ElementwiseProduct path replaced the dense zip_with form):
    the floor must NOT densify — every tfidf vector is a SparseVector
    with the same active-index set as its tf input (the floor
    multiplies active entries by a nonzero scalar; reference keeps
    SparseVector end-to-end, LDAClustering.scala:165,191)."""
    import numpy as np
    from pyspark.ml.linalg import SparseVector

    from spark_text_clustering_spark.ml.vectorize import apply_idf_floor

    idf = np.zeros(n)
    idf[3] = 0.7  # one non-floored term; the rest hit the 1e-4 floor
    hi = n - 1
    tf = spark.createDataFrame(
        [(0, SparseVector(n, [3, hi], [2.0, 5.0])),
         (1, SparseVector(n, [1], [4.0]))],
        ["doc_id", "tf"],
    )
    out = {r["doc_id"]: r for r in apply_idf_floor(tf, idf).collect()}
    for doc_id, r in out.items():
        assert isinstance(r["tfidf"], SparseVector), doc_id
        assert list(r["tfidf"].indices) == list(r["tf"].indices)
    assert out[0]["tfidf"][3] == pytest.approx(2.0 * 0.7, rel=1e-12)
    assert out[0]["tfidf"][hi] == pytest.approx(5.0 * IDF_FLOOR, rel=1e-12)
    assert out[1]["tfidf"][1] == pytest.approx(4.0 * IDF_FLOOR, rel=1e-12)


def test_idf_floor_matches_numpy_reference(spark):
    """The JVM ElementwiseProduct floor computes bit-identical values to
    the straight numpy multiply — one IEEE double multiply per active
    term (the same equality the r12 dense/sparse-path agreement test
    locked; kept across the r13 single-path rewrite)."""
    import numpy as np
    from pyspark.ml.linalg import SparseVector
    from pyspark.ml.functions import vector_to_array

    from spark_text_clustering_spark.ml import vectorize as V

    n = 64
    rng = np.random.default_rng(7)
    idf = rng.random(n)
    idf[::5] = 0.0
    effective = np.where(idf == 0.0, IDF_FLOOR, idf)
    docs = [
        (i, SparseVector(n, sorted(rng.choice(n, 6, replace=False).tolist()),
                         rng.integers(1, 9, 6).astype(float).tolist()))
        for i in range(8)
    ]
    tf = spark.createDataFrame(docs, ["doc_id", "tf"])
    got = {
        r["doc_id"]: list(r["arr"])
        for r in V.apply_idf_floor(tf, idf)
        .select("doc_id", vector_to_array("tfidf").alias("arr"))
        .collect()
    }
    for doc_id, v in docs:
        expect = np.zeros(n)
        expect[v.indices] = v.values * effective[v.indices]
        assert got[doc_id] == expect.tolist()  # exact equality, not approx


def test_empty_doc_dropped(spark, mini):
    df, _ = vectorize(mini, vocab_size=100)
    ids = {r["doc_id"] for r in df.select("doc_id").collect()}
    assert ids == {0, 1, 3}  # doc 2 (all stopwords) dropped (P8)


P8_FIT = [
    (0, "horses gallop across green meadows"),
    (1, "horses gallop quickly"),
    (2, None),
    (3, ""),
]
P8_CASES = [
    (10, None),
    (11, ""),
    (12, "?!... ,;"),  # punctuation only
    (13, "this that with from have"),  # stopwords only
    (14, "zebras xylophones quartzite"),  # every token out of vocabulary
    (15, "horses gallop"),
]


@pytest.mark.parametrize("lemmatize", [False, True], ids=["plain", "lemmatize"])
def test_empty_doc_drop_semantics(spark, lemmatize):
    """P8 keeps a document iff a token survives P6: null, empty,
    punctuation-only and stopword-only text is dropped, in fitting and in
    featurizing; a document whose tokens are all out of vocabulary is kept
    with an all-zero ``tf``."""
    fit = spark.createDataFrame(P8_FIT, "doc_id long, text string")
    v = fit_vectorizer(fit, vocab_size=100, min_doc_freq=1, lemmatize=lemmatize)
    docs = spark.createDataFrame(P8_CASES, "doc_id long, text string")
    got = {r["doc_id"]: r["tf"] for r in featurize(docs, v).collect()}
    assert sorted(got) == [14, 15]
    assert got[14].numNonzeros() == 0
    assert got[15].numNonzeros() == 2


@pytest.mark.parametrize("lemmatize", [False, True], ids=["plain", "lemmatize"])
def test_text_chain_evaluated_once(spark, lemmatize):
    """P2 → P5 → P6 run once per document per pass: the optimized plans of
    the vocabulary build's input and of ``featurize`` hold the clean
    chain's two ``regexp_replace`` calls once, and one UDF per ML stage
    (tokenizer, remover; plus counts and the IDF product in ``featurize``).
    A P8 ``Filter`` on ``tokens`` would be pushed below those projections
    and evaluate the chain again inside its predicate."""
    fit = spark.createDataFrame(P8_FIT, "doc_id long, text string")
    v = fit_vectorizer(fit, vocab_size=100, min_doc_freq=1, lemmatize=lemmatize)
    for df, n_udfs in ((_tokens(fit, lemmatize, v.stopwords), 2), (featurize(fit, v), 4)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("regexp_replace(") == 2, plan
        assert plan.count("UDF(") == n_udfs, plan


@pytest.fixture(scope="module")
def lda_setup(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    df, model = vectorize(docs, vocab_size=1000, min_doc_freq=2)
    corpus = df.select("doc_id", "tfidf").cache()
    lda = train_lda(corpus, k=3, max_iter=15, seed=42)
    return corpus, model, lda


def test_lda_seed_reproducible(spark, lda_setup):
    corpus, model, lda1 = lda_setup
    lda2 = train_lda(corpus, k=3, max_iter=15, seed=42)
    t1 = describe_topics_with_terms(lda1, model.vocabulary, 5).orderBy("topic").collect()
    t2 = describe_topics_with_terms(lda2, model.vocabulary, 5).orderBy("topic").collect()
    assert [r["terms"] for r in t1] == [r["terms"] for r in t2]


def test_lda_scoring_properties(spark, lda_setup):
    corpus, _, lda = lda_setup
    scored = score_documents(lda, corpus)
    rows = scored.collect()
    assert len(rows) == corpus.count()
    for r in rows:
        assert 0 <= r["main_topic"] < 3
        assert abs(sum(r["topic_dist"]) - 1.0) < 1e-6  # proper distribution
    report = topic_report(scored).collect()
    assert sum(r["n_docs"] for r in report) == len(rows)


def _nmi(a: np.ndarray, b: np.ndarray) -> float:
    """Normalized mutual information (no sklearn in container)."""
    eps = 1e-12
    ua, ub = np.unique(a), np.unique(b)
    n = len(a)
    cm = np.zeros((len(ua), len(ub)))
    for i, x in enumerate(ua):
        for j, y in enumerate(ub):
            cm[i, j] = np.sum((a == x) & (b == y))
    pxy = cm / n
    px = pxy.sum(1, keepdims=True)
    py = pxy.sum(0, keepdims=True)
    mi = np.sum(pxy * np.log((pxy + eps) / (px @ py + eps)))
    hx = -np.sum(px * np.log(px + eps))
    hy = -np.sum(py * np.log(py + eps))
    return float(mi / max(np.sqrt(hx * hy), eps))


def test_embedding_clustering_deterministic(spark):
    """Cluster plausibility (SURVEY §5.2.3): the synthetic embeddings carry
    no label structure (measured NMI ≈ 0.04 vs labels — random vectors), so
    the meaningful checks are seed-determinism and sane cluster shapes."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, SF_SMALL, "embeddings")
    vecs = emb.select(
        "vec_id",
        "label",
        array_to_vector(F.transform("embedding", lambda x: x.cast("double"))).alias("features"),
    )
    p1 = KMeans(k=10, seed=42, maxIter=20).fit(vecs).transform(vecs)
    p2 = KMeans(k=10, seed=42, maxIter=20).fit(vecs).transform(vecs)
    a = p1.select("vec_id", "prediction").toPandas().sort_values("vec_id")
    b = p2.select("vec_id", "prediction").toPandas().sort_values("vec_id")
    # same seed -> identical assignment (modulo nothing: local mode is exact)
    assert (a["prediction"].to_numpy() == b["prediction"].to_numpy()).all()
    # every cluster non-trivial and NMI computable (sanity of the harness)
    counts = a["prediction"].value_counts()
    assert len(counts) == 10 and counts.min() >= 1
    assert _nmi(a["prediction"].to_numpy(), a["prediction"].to_numpy()) == pytest.approx(1.0, abs=1e-6)


def test_lemmatizer_goldens(spark):
    """P3 rule-lemmatizer: irregulars, plural rules, doubled consonants,
    and the reference's len<=3 drop rule."""
    from spark_text_clustering_spark.functions.lemmatize import RuleLemmatizer

    lem = RuleLemmatizer()
    assert lem.lemma("running") == ""  # -> "run", len 3 -> dropped (ref rule)
    assert lem.lemma("sitting") == ""  # doubled consonant -> "sit" -> dropped
    assert lem.lemma("stopping") == "stop"
    assert lem.lemma("cities") == "city"
    assert lem.lemma("classes") == "class"
    assert lem.lemma("dresses") == "dress"
    assert lem.lemma("children") == "child"
    assert lem.lemma("walked") == "walk"
    assert lem.lemma("tables") == "table"
    assert lem.lemma("was") == ""  # -> "be", dropped by len rule
    assert lem.lemma("is") == ""


def test_lda_online_optimizer(spark, lda_setup):
    """M4 online path: Params.algorithm='online' trains a LocalLDAModel with
    the same API surface (reference LDAClustering.scala:37-53)."""
    corpus, _, _ = lda_setup
    online = train_lda(corpus, k=3, max_iter=5, optimizer="online", seed=42)
    scored = score_documents(online, corpus)
    rows = scored.collect()
    assert len(rows) == corpus.count()
    assert all(0 <= r["main_topic"] < 3 for r in rows)


def test_lda_online_minibatch_fraction(spark, mini):
    """Online parity knob: subsamplingRate = 0.05 + 1/corpusSize
    (LDAClustering.scala:43-44). On the 3-doc mini corpus that is
    0.05 + 1/3."""
    df, _ = vectorize(mini, vocab_size=100, min_doc_freq=2)
    corpus = df.select("doc_id", "tfidf")
    n = corpus.count()
    model = train_lda(corpus, k=2, max_iter=2, optimizer="online", seed=1, corpus_size=n)
    got = model.getSubsamplingRate()
    assert got == pytest.approx(0.05 + 1.0 / n, rel=1e-12)
    # and a 1-doc corpus caps at 1.0 (0.05 + 1/1 would exceed the valid range)
    one = df.limit(1).select("doc_id", "tfidf")
    m1 = train_lda(one, k=2, max_iter=1, optimizer="online", seed=1, corpus_size=1)
    assert m1.getSubsamplingRate() == 1.0


def test_sql_registered_udfs(spark):
    """stem()/lemma() usable from pure SQL after registration."""
    from spark_text_clustering_spark.functions.textnorm import register_sql_udfs

    register_sql_udfs(spark)
    row = spark.sql(
        "SELECT stem('dresses') AS s, lemma('cities') AS l, stem(NULL) AS n"
    ).collect()[0]
    assert row["s"] == "dress"
    assert row["l"] == "city"
    assert row["n"] is None
