"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take about a minute per run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import generate as G  # noqa: E402
from probe import PlanNode  # noqa: E402
from workloads import frames_equal, join_rows, ranked_lists_match  # noqa: E402

SMALL = G.Sizes(n_vectors=300, n_docs=200)


def _digests(seed):
    tables, manifest = G.generate(seed, SMALL)
    return {name: G.table_digest(t) for name, t in tables.items()}, manifest


def test_same_seed_gives_identical_inputs():
    assert _digests(5) == _digests(5)


def test_different_seed_gives_different_inputs():
    a, _ = _digests(5)
    b, _ = _digests(6)
    assert a["embeddings"] != b["embeddings"]
    assert a["documents"] != b["documents"]


def test_manifest_records_counts_shares_and_pairs():
    tables, manifest = G.generate(3, SMALL)
    sizes = np.array(manifest["cluster_sizes"])
    labels = tables["embeddings"]["label"].to_numpy()
    assert manifest["rows"] == {"embeddings": 300, "documents": 200}
    assert sizes.sum() == 300
    assert list(sizes) == list(np.bincount(labels, minlength=SMALL.clusters))
    assert manifest["cluster_pairs"] == int((sizes * (sizes - 1)).sum())
    assert manifest["dup_shares"]["documents_exact"] == SMALL.doc_dup_frac
    # Zipf skew: the largest cluster is well above the mean
    assert sizes.max() > 3 * sizes.mean()
    # the stated share of exact duplicate texts is present
    texts = tables["documents"]["text"].to_pylist()
    assert len(texts) - len(set(texts)) >= round(SMALL.doc_dup_frac * 200)


def test_ranked_list_check_counts_a_planted_wrong_doc():
    ref = {1: {10: 0.9, 11: 0.8, 12: 0.7, 13: 0.1}}
    good = pd.DataFrame(
        {"query_id": [1, 1, 1], "doc_id": [10, 11, 12], "score": [0.9, 0.8, 0.7], "rank": [1, 2, 3]}
    )
    assert ranked_lists_match(good, ref, "score", 3)
    wrong = good.assign(doc_id=[10, 11, 13], score=[0.9, 0.8, 0.1])
    assert not ranked_lists_match(wrong, ref, "score", 3)
    # equal scores may come back in either order
    tied = {1: {10: 0.9, 11: 0.5, 12: 0.5}}
    swapped = good.assign(doc_id=[10, 12, 11], score=[0.9, 0.5, 0.5])
    assert ranked_lists_match(swapped, tied, "score", 3)


def test_frame_check_counts_a_planted_flip():
    a = pd.DataFrame({"vec_id": [1, 2, 3], "kept": [1, 0, 1], "cent_cosine": [0.5, 0.25, 0.125]})
    b = a.sample(frac=1.0, random_state=0).rename(columns={"kept": "KEPT"})
    assert frames_equal(a, b)
    flipped = a.assign(kept=[1, 1, 1])
    assert not frames_equal(flipped, b)


def test_join_rows_reads_only_the_named_join():
    nodes = [
        PlanNode("BroadcastHashJoin", "BroadcastHashJoin [code_flat#1L], [code_flat#2L], Inner", 870),
        PlanNode("BroadcastHashJoin", "BroadcastHashJoin [query_id#3L], [query_id#4L], Inner", 870),
        PlanNode("SortMergeJoin", "SortMergeJoin [code#5L], [code#6L], Inner, (_cc#7 < _cc#8)", 38),
        PlanNode("Filter", "Filter isnotnull(code_flat#1L)", 32),
    ]
    assert join_rows(nodes, "code_flat") == 870
    assert join_rows(nodes, "code", "_cc") == 38
    assert join_rows(nodes, "code_flat", "_cc") == 0


def _run(workload, *extra, cwd=ROOT, timeout=600):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "2", "--seconds", "1", "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )
    return proc


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


WORKLOADS = [w["name"] for w in _bench()["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct(workload):
    proc = _run(workload, "--trace", "0")
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    names = {m["name"] for m in _bench()["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_counts_a_planted_wrong_answer(workload):
    proc = _run(workload, "--trace", "1", "--plant-error")
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == 1 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in _bench()["per_layer"]}
    assert result["metrics"]["trace.layer_coverage_frac"]["value"] >= 0.9


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(WORKLOADS[0], "--trace", "0", cwd=str(tmp_path), timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
