"""Catalog fingerprints: a helper edit reaches exactly the queries that
call it, and the hash depends on neither the hash seed nor the checkout
path. Each case fingerprints a copy of the package in its own process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

PKG = "etl_energy_tracker_spark"
SRC = Path(__file__).resolve().parent.parent / PKG

MINHASH_LSH = {
    "jaccard_knn_topk", "lsh_edit_distance_verify", "lsh_recall_eval",
    "minhash_estimate_error", "minhash_lsh_pairs", "minhash_lsh_pairs_capped",
    "minhash_lsh_pairs_k32",
}
IVF = {
    "ann_ivf_topk", "ann_ivf_trained", "ann_recall_mrr_eval",
    "cluster_balanced_sample", "hard_negative_mining",
}


def _copy(root: Path) -> Path:
    shutil.copytree(SRC, root / PKG, ignore=shutil.ignore_patterns("__pycache__"))
    return root


def _run(root: Path, seed: str, expr: str):
    """``expr``, JSON-encoded, evaluated with ``catalog`` imported from
    the package under ``root`` in a fresh process."""
    code = (
        "import json; from etl_energy_tracker_spark.queries import catalog; "
        f"print(json.dumps({expr}))"
    )
    env = {**os.environ, "PYTHONPATH": str(root), "PYTHONHASHSEED": seed}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env,
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.splitlines()[-1])


def _fingerprints(root: Path, seed: str = "0") -> dict[str, str]:
    return _run(root, seed, "catalog.fingerprints()")


def _edit_body(root: Path, module: str, func: str) -> None:
    """Add a statement after the docstring of ``module.func``."""
    path = root / PKG / module
    src = path.read_text()
    start = src.index(f"def {func}(")
    doc_end = src.index('"""', src.index('"""', start) + 3) + 3
    path.write_text(src[:doc_end] + "\n    _edited = None" + src[doc_end:])


@pytest.fixture(scope="module")
def baseline(tmp_path_factory) -> dict[str, str]:
    return _fingerprints(_copy(tmp_path_factory.mktemp("base")), seed="1")


def _changed(baseline: dict, after: dict) -> set[str]:
    assert set(after) == set(baseline)
    return {n for n in baseline if after[n] != baseline[n]}


def test_lsh_candidate_pairs_edit_reaches_its_consumers(baseline, tmp_path):
    root = _copy(tmp_path)
    _edit_body(root, "operators/dedup.py", "lsh_candidate_pairs")
    assert _changed(baseline, _fingerprints(root)) == MINHASH_LSH


def test_with_ivf_cell_edit_reaches_its_consumers(baseline, tmp_path):
    # every IVF consumer imports with_ivf_cell inside its function body
    root = _copy(tmp_path)
    _edit_body(root, "operators/similarity.py", "with_ivf_cell")
    assert _changed(baseline, _fingerprints(root)) == IVF


def test_fingerprints_ignore_hash_seed_and_checkout_path(baseline, tmp_path):
    root = _copy(tmp_path / "elsewhere" / "checkout")
    assert _fingerprints(root, seed="2") == baseline


def test_set_constants_are_written_in_sorted_order():
    # no set constant is reached today; a future one must not make the
    # fingerprint depend on string hashing
    expr = "catalog._canon({'k%d' % i for i in range(64)}, [])"
    root = SRC.parent
    assert _run(root, "1", expr) == _run(root, "2", expr)
