"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The helper and check tests run in well under a second. The tiny-run
tests start one Spark session per workload and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, harness  # noqa: E402


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- percentiles ---------------------------------------------------------

def test_percentile_interpolates():
    assert harness.percentile([5, 1, 3, 2, 4], 0.5) == 3
    assert harness.percentile([1, 2], 0.5) == 1.5
    assert harness.percentile([7], 0.9) == 7
    with pytest.raises(ValueError):
        harness.percentile([], 0.5)


def test_p90_needs_one_hundred_ops():
    assert harness.tail_percentile(range(99), 0.9) is None
    assert harness.tail_percentile(range(100), 0.9) == pytest.approx(89.1)
    assert harness.tail_percentile(range(20), 0.5) == 9.5
    assert harness.tail_percentile(range(19), 0.5) is None


# -- output checks catch an injected wrong top-k -------------------------

def _rag_store(n: int = 40, seed: int = 3):
    rng = np.random.default_rng(seed)
    texts = [f"chunk {i} " + " ".join(map(str, rng.integers(0, 999, 6))) for i in range(n)]
    matrix = np.array([checks.hash_embedding(t) for t in texts])
    return np.arange(100, 100 + n), texts, matrix


def _render(context: str, question: str) -> str:
    return f"C:{context}|Q:{question}"


def _answer(store, question: str, k: int = 5) -> str:
    ids, texts, matrix = store
    top = checks.topk(ids, checks.fold_cosine(matrix, checks.hash_embedding(question)), k)
    return _render("\n".join(texts[i] for i in top), question)


def test_rag_check_accepts_right_answers():
    store = _rag_store()
    asked = [(store[1][7], True, _answer(store, store[1][7])),
             ("free question", False, _answer(store, "free question"))]
    assert checks.rag_answer_failures(store, asked, _render, "\n") == []


def test_rag_check_catches_wrong_topk():
    store = _rag_store()
    ids, texts, matrix = store
    q = "another question"
    top = checks.topk(ids, checks.fold_cosine(matrix, checks.hash_embedding(q)), 5)
    swapped = [texts[i] for i in top]
    swapped[0], swapped[1] = swapped[1], swapped[0]
    wrong_order = _render("\n".join(swapped), q)
    swapped[4] = texts[next(i for i in range(len(texts)) if i not in top)]
    wrong_member = _render("\n".join(swapped), q)
    for bad in (wrong_order, wrong_member):
        assert len(checks.rag_answer_failures(store, [(q, False, bad)], _render, "\n")) == 1


def test_rag_check_requires_own_chunk_first():
    ids, texts, matrix = _rag_store()
    matrix = matrix.copy()
    matrix[7] = -matrix[7]  # chunk 7's stored vector no longer matches its text
    store = (ids, texts, matrix)
    q = texts[7]
    msgs = checks.rag_answer_failures(store, [(q, True, _answer(store, q))], _render, "\n")
    assert msgs and "not ranked first" in msgs[0]


def _knn_case(seed: int = 5, k: int = 4):
    rng = np.random.default_rng(seed)
    ids = rng.permutation(50) + 1000
    matrix = rng.standard_normal((50, 8))
    queries = rng.standard_normal((3, 8))
    rows = []
    for qid, q in enumerate(queries):
        sims = checks.fold_cosine(matrix, q)
        rows += [(qid, int(ids[i]), float(sims[i])) for i in checks.topk(ids, sims, k)]
    return ids, matrix, queries, rows, k


def test_knn_check_accepts_numpy_result_in_any_row_order():
    ids, matrix, queries, rows, k = _knn_case()
    assert checks.knn_failures(ids, matrix, queries, rows[::-1], k) == []


def test_knn_check_catches_wrong_topk():
    ids, matrix, queries, rows, k = _knn_case()
    outsider = next(int(i) for i in ids if all(int(i) != r[1] for r in rows if r[0] == 1))
    wrong_id = [r if r != rows[k] else (1, outsider, r[2]) for r in rows]
    wrong_sim = [r if r != rows[0] else (r[0], r[1], np.nextafter(r[2], 2.0)) for r in rows]
    missing = rows[1:]
    for bad in (wrong_id, wrong_sim, missing):
        assert len(checks.knn_failures(ids, matrix, queries, bad, k)) == 1


def test_zero_norm_scores_zero():
    m = np.array([[0.0, 0.0], [1.0, 0.0]])
    assert checks.fold_cosine(m, np.array([1.0, 1.0])).tolist() == [0.0, 1.0 / (1.0 * 2 ** 0.5)]


def test_oracle_compare_catches_wrong_value():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import value_hash

    srows, cols = [(1, 2.5), (2, 3.0)], ["k", "v"]
    drows, dtypes = [(2, Decimal("3.0")), (1, Decimal("2.5"))], ["INTEGER", "DECIMAL(10,1)"]
    assert checks.oracle_mismatch(srows, cols, drows, cols, dtypes, value_hash) is None
    wrong = [(2, Decimal("3.0")), (1, Decimal("2.4"))]
    assert checks.oracle_mismatch(srows, cols, wrong, cols, dtypes, value_hash)
    assert checks.oracle_mismatch(srows, cols, drows[:1], cols, dtypes, value_hash)


# -- the benchmark definition matches the program -------------------------

def test_benchmark_json_names_what_the_program_prints():
    spec = benchmark_spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    from perfbench.run import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_catalog_queries_come_from_the_frozen_headline():
    from perfbench.catalog_suite import HEADLINE, QUERIES

    assert len(HEADLINE) == 27 and set(QUERIES) <= set(HEADLINE)


def test_only_stores_built_from_own_tables_are_removed(tmp_path):
    from perfbench.catalog_suite import own_stores

    store = tmp_path / "ivf_index"
    for name, source in (("mine", tmp_path / "sf"), ("other", tmp_path / "sf_other")):
        (store / name).mkdir(parents=True)
        (store / name / "meta.json").write_text(json.dumps({"sf_dir": str(source)}))
    (store / "no_meta").mkdir()
    assert own_stores(str(store), str(tmp_path / "sf")) == [str(store / "mine")]
    assert own_stores(str(tmp_path / "missing"), str(tmp_path / "sf")) == []


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rag_chat", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- a tiny run of each workload prints every metric ----------------------

@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["query_mix", "index_build", "rag_chat", "catalog_suite"])
def test_tiny_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    out, context = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = harness.PER_LAYER if trace else harness.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    for key in ("seed", "sizes", "nproc", "master", "spark_version", "index_stores_existed",
                "samples", "op_fail_ratio"):
        assert key in context
