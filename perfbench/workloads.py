"""The benchmark's workloads: set-up, one run, output checks and clean-up.

Each workload drives the engine only through its public entry points,
``app.run_training`` and ``app.run_scoring``, on inputs that ``gen`` makes
from the seed. The LDA seed itself stays the program default (42): the
benchmark seed changes the inputs, never the program's parameters.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil

import numpy as np

import gen

K = 5
# Floors that catch a broken pipeline: random topics recover ~0 planted
# topics and score a purity near 1/K. EM's local optima stay above them
# (two planted topics merged into one learned topic read 0.8 and ~0.8).
MIN_RECOVERY = 0.6
MIN_PURITY = 0.6
# EM on more than one partition sums its per-partition terms in task
# completion order, so the log-likelihood repeats to ~1e-15, not bit for bit
LL_REL_TOL = 1e-9

# "full" is what the benchmark measures; "tiny" is the self-test smoke size.
SIZES = {
    "full": dict(n_books=20, words_per_book=13000, iterations=10, n_docs=10000,
                 words_per_doc=100),
    "tiny": dict(n_books=10, words_per_book=1000, iterations=5, n_docs=500,
                 words_per_doc=60),
}


def _clear_checkpoints(spark) -> None:
    """Delete what EM's periodic checkpointing left under the session's
    checkpoint dir, so repeated runs do not fill the disk."""
    ckpt = spark.sparkContext.getCheckpointDir()
    if not ckpt:
        return
    ckpt = ckpt.removeprefix("file:")
    for child in glob.glob(os.path.join(ckpt, "*")):
        shutil.rmtree(child, ignore_errors=True)


def topic_recovery(planted: list[list[str]], learned: list[list[str]]) -> float:
    """Share of planted topics whose generator top-10 words reappear, at
    least half of them, among one learned topic's top-10 terms."""
    hits = sum(
        any(len(set(p) & set(t)) >= len(p) / 2 for t in learned) for p in planted
    )
    return hits / len(planted)


def purity(clusters: list[list[int]], labels: np.ndarray) -> float:
    """Cluster purity: each cluster counts its most common planted label."""
    total = sum(len(c) for c in clusters)
    return sum(int(np.bincount(labels[c]).max()) for c in clusters if c) / total


class TrainBooks:
    """``app.run_training`` (EM, k=5) over a seeded whole-file book corpus:
    the reference's training main on its own data shape."""

    name = "train_books"
    # whether set-up runs the engine, so that the first run is warm
    # enough to be measured rather than discarded
    warm_after_setup = False

    def __init__(self, work: str, seed: int, size: str):
        self.work, self.seed, self.cfg = work, seed, SIZES[size]
        self.inputs = os.path.join(work, "inputs")
        self.corpus = os.path.join(self.inputs, "books", "English")
        self.log_likelihood: float | None = None

    def generate(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.tm, _ = gen.write_books(
            os.path.join(self.inputs, "books"), self.seed,
            self.cfg["n_books"], self.cfg["words_per_book"], K,
        )

    def prepare(self, spark) -> None:
        pass

    def params(self):
        from spark_text_clustering_spark.app import Params

        return Params(k=K, max_iterations=self.cfg["iterations"])

    def run(self, spark, i: int):
        from spark_text_clustering_spark import app

        model_dir = os.path.join(self.work, f"models-{i}")
        return app.run_training(spark, self.corpus, model_dir, self.params())

    def check(self, summary) -> tuple[list[str], dict]:
        errors = []
        if len(summary["topics"]) != K:
            errors.append(f"{len(summary['topics'])} topics, expected {K}")
        if summary["corpus_size"] != self.cfg["n_books"]:
            errors.append(f"corpus_size {summary['corpus_size']} != {self.cfg['n_books']} books")
        ll = summary["log_likelihood_per_doc"]
        if self.log_likelihood is None:
            self.log_likelihood = ll
        elif not math.isclose(ll, self.log_likelihood, rel_tol=LL_REL_TOL):
            errors.append(f"log_likelihood_per_doc {ll!r} != first run's {self.log_likelihood!r}")
        rec = topic_recovery([self.tm.top_words(t) for t in range(K)],
                             list(summary["topics"].values()))
        if rec < MIN_RECOVERY:
            errors.append(f"topic_recovery {rec} < {MIN_RECOVERY}")
        return errors, {"topic_recovery": rec}

    def cleanup(self, spark, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"models-{i}"), ignore_errors=True)
        _clear_checkpoints(spark)

    def lda_partitions(self, spark) -> int | None:
        """The EM corpus partition count the engine picks for the books,
        for the run record; None once the engine no longer has the rule."""
        from spark_text_clustering_spark import app

        rule = getattr(app, "_lda_partition_count", None)
        if rule is None:
            return None
        return rule(spark, app._corpus_from_path(spark, self.corpus))


def _tree_fingerprint(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, path)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


class ScoreDocs(TrainBooks):
    """``app.run_scoring`` of many short documents against a model that
    set-up trains once on the book corpus: the read path, with no EM."""

    name = "score_docs"
    warm_after_setup = True  # the set-up fit

    def __init__(self, work: str, seed: int, size: str):
        super().__init__(work, seed, size)
        self.docs = os.path.join(self.inputs, "docs.parquet")
        self.model_dir = os.path.join(work, "setup-model")

    def generate(self) -> None:
        super().generate()
        self.labels = gen.write_short_docs(
            self.docs, self.seed, self.cfg["n_docs"], self.cfg["words_per_doc"], self.tm
        )

    def prepare(self, spark) -> None:
        from spark_text_clustering_spark import app

        summary = app.run_training(spark, self.corpus, self.model_dir, self.params())
        errors, _ = super().check(summary)
        if errors:
            raise RuntimeError(f"set-up model failed its checks: {errors}")
        _clear_checkpoints(spark)
        self.fingerprint = _tree_fingerprint(self.model_dir)

    def run(self, spark, i: int):
        from spark_text_clustering_spark import app

        report = os.path.join(self.work, f"report-{i}")
        app.run_scoring(spark, self.docs, self.model_dir, report)
        return report

    def check(self, report) -> tuple[list[str], dict]:
        rows = []
        for part in sorted(glob.glob(os.path.join(report, "part-*"))):
            with open(part, encoding="utf-8") as f:
                rows += [json.loads(line) for line in f]
        errors = []
        n = sum(r["n_docs"] for r in rows)
        if n != self.cfg["n_docs"]:
            errors.append(f"report n_docs sum {n} != {self.cfg['n_docs']} documents")
        p = purity([[int(d) for d in r["docs"]] for r in rows], self.labels)
        if p < MIN_PURITY:
            errors.append(f"purity {p} < {MIN_PURITY}")
        if _tree_fingerprint(self.model_dir) != self.fingerprint:
            errors.append("the set-up model directory changed")
        return errors, {"purity": p}

    def cleanup(self, spark, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"report-{i}"), ignore_errors=True)


WORKLOADS = {w.name: w for w in (TrainBooks, ScoreDocs)}
