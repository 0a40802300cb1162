"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q -p no:cacheprovider``
from the repository root.  The end-to-end test starts Spark and takes
about a minute."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from gen import DocSpec, FactSpec
from workload import CAPACITY, WORKLOADS, Inputs, Workload, exact_clusters

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_identical_input_bytes(tmp_path, name):
    wl = WORKLOADS[name]
    a = Inputs(wl, 7, str(tmp_path / "a"), n_batches=2)
    b = Inputs(wl, 7, str(tmp_path / "b"), n_batches=2)
    c = Inputs(wl, 8, str(tmp_path / "c"), n_batches=2)
    files_a = _tree_bytes(a.in_dir)
    assert files_a == _tree_bytes(b.in_dir)
    assert files_a.keys() == _tree_bytes(c.in_dir).keys()
    assert files_a != _tree_bytes(c.in_dir)
    props = a.properties(wl)
    assert props["scan_rows"] == wl.scan.rows
    assert props["scan_distinct_items"] > 100 * CAPACITY
    assert props["planted_dups"] > 0


def test_exact_clusters_finds_planted_copies(tmp_path):
    wl = Workload(FactSpec(rows=100, groups=2), FactSpec(rows=10, groups=2), qs=(0.5,))
    docs = Inputs(wl, 3, str(tmp_path), n_batches=1, docs=DocSpec(docs=300, dup_rate=0.3)).docs
    clusters = exact_clusters(docs)
    nodes = {n for n, _ in clusters}
    # every planted copy edits at most 3 words of a 30-80 word document,
    # which keeps 3-gram Jaccard with its source at or above 0.5
    assert {int(d) for d in docs["doc_id"][docs["is_dup"]]} <= nodes
    assert all(c <= n for n, c in clusters)


def _git_status() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=all"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout


@pytest.mark.skipif(
    not os.path.isdir(os.path.join(ROOT, ".git")), reason="needs a git checkout"
)
def test_traced_run_is_correct_and_leaves_the_tree_unchanged():
    before = _git_status()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         "sketch_groups", "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert "streaming.fold.jobs" in result["metrics"]
    assert _git_status() == before


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         "sketch_scan", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
