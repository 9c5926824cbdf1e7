"""Self-tests of the benchmark. From the repository root:

    python3 -m pytest perfbench -q

The smoke tests start Spark once per workload and tracing mode at the
"tiny" input size (about a minute each).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

import gen
import run
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def _inputs(out: str, seed: int) -> None:
    tm, _ = gen.write_books(os.path.join(out, "books"), seed, 6, 300)
    gen.write_short_docs(os.path.join(out, "docs.parquet"), seed, 50, 20, tm)


def test_generator_is_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _inputs(str(tmp_path / name), seed)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_generated_books_mix_stopwords_punctuation_and_capitals(tmp_path):
    tm, topics = gen.write_books(str(tmp_path), 3, 10, 500)
    assert sorted(set(topics)) == list(range(workloads.K))
    text = (tmp_path / "English" / "book_000.txt").read_text()
    words = text.split()
    assert any(w[0].isupper() for w in words)
    assert text.count(".") > 10 and text.count(",") > 5
    assert sum(w.lower().strip(",.") in gen.STOPWORDS for w in words) > 0.1 * len(words)


def test_quality_measures():
    planted = [["a", "b", "c", "d"], ["e", "f", "g", "h"]]
    assert workloads.topic_recovery(planted, [["a", "b", "x", "y"], ["q"]]) == 0.5
    assert workloads.topic_recovery(planted, [["a", "b"], ["e", "f", "g"]]) == 1.0
    labels = np.array([0, 0, 1, 1, 1])
    assert workloads.purity([[0, 1], [2, 3, 4]], labels) == 1.0
    assert workloads.purity([[0, 2], [1, 3, 4]], labels) == 0.6


def test_span_time_helpers():
    assert spans._covered([(0, 2), (1, 3), (5, 9)], 1, 6) == 3
    assert spans._covered([], 0, 1) == 0
    assert spans._epoch("2026-01-02T03:04:05.250GMT") % 60 == 5.25


def test_tree_cpu_counts_a_child_that_has_exited():
    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert run.tree_cpu_s() - before >= 0.4


def test_benchmark_json_matches_the_metrics_printed():
    spec = _spec()
    for section, units in (("end_to_end", run.END_TO_END_UNITS),
                           ("per_layer", run.PER_LAYER_UNITS)):
        assert {m["name"]: m["unit"] for m in spec[section]} == units
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_run_passes_its_checks(workload, trace):
    p = _bench(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
               "--trace", trace, "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    section = "per_layer" if trace == "1" else "end_to_end"
    expected = {m["name"]: m["unit"] for m in _spec()[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for name, m in result["metrics"].items():
        assert NAME.fullmatch(name)
        assert isinstance(m["value"], (int, float))
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench(str(tmp_path), "--workload", "train_books", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
