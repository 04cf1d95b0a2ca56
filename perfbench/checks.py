"""Output checks, independent of the engine's own kernels.

Similarity is recomputed in numpy with the same sequential
per-dimension fold the engine's contract fixes (``dot = 0.0; dot +=
a[j]*b[j]`` for j in order, ``sqrt`` of the same fold for norms, zero
norm -> 0.0), so expected similarities equal the engine's bit for bit
and rankings can be compared exactly: similarity descending, then id
ascending.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import numpy as np


#: The seed of the engine's default ``HashEmbedder``.
HASH_SEED = "s42"


def hash_embedding(text: str, dim: int = 64) -> np.ndarray:
    """The deterministic question embedding: component j is
    md5(HASH_SEED|j|text)'s first 13 hex digits folded into [-1, 1)."""
    out = np.empty(dim)
    for j in range(dim):
        h = hashlib.md5(f"{HASH_SEED}|{j}|{text}".encode()).hexdigest()
        out[j] = int(h[:13], 16) / float(1 << 52) * 2.0 - 1.0
    return out


def fold_cosine(matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``matrix`` with ``q``, sequential fold."""
    n, d = matrix.shape
    dot = np.zeros(n)
    sq = np.zeros(n)
    qq = 0.0
    for j in range(d):
        col = matrix[:, j]
        dot += col * q[j]
        sq += col * col
        qq += float(q[j]) * float(q[j])
    norms = np.sqrt(sq)
    qn = math.sqrt(qq)
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = dot / (norms * qn)
    return np.where((norms == 0.0) | (qn == 0.0), 0.0, sim)


def topk(ids: np.ndarray, sims: np.ndarray, k: int) -> np.ndarray:
    """Row positions of the top ``k``: similarity desc, id asc."""
    return np.lexsort((ids, -sims))[:k]


def parquet_files(path: str) -> list[str]:
    """The part files of a parquet directory."""
    return glob.glob(os.path.join(path, "*.parquet"))


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from the file footers."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def read_store(path: str) -> tuple[np.ndarray, list[str], np.ndarray]:
    """``(ids, texts, embedding matrix)`` of a parquet chunk store."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table(columns=["id", "text", "embedding"])
    ids = t.column("id").to_numpy()
    emb = t.column("embedding").combine_chunks()
    d = len(emb[0]) if len(emb) else 0
    matrix = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, d)
    return ids, t.column("text").to_pylist(), matrix


def rag_answer_failures(
    store: tuple[np.ndarray, list[str], np.ndarray],
    asked: list[tuple[str, bool, str]],
    render,
    separator: str,
    k: int = 5,
) -> list[str]:
    """Check every ``(question, is_verbatim, answer)`` from ``ask()``.

    The expected answer renders the numpy top-``k`` chunk texts through
    ``render(context, question)``; a verbatim question must also rank
    its own chunk first. Returns one message per failed question.
    """
    ids, texts, matrix = store
    bad = []
    for question, verbatim, answer in asked:
        top = topk(ids, fold_cosine(matrix, hash_embedding(question, matrix.shape[1])), k)
        context = separator.join(texts[i] for i in top)
        if answer != render(context, question):
            bad.append(f"top-{k} context differs for question {question[:40]!r}")
        elif verbatim and texts[top[0]] != question:
            bad.append(f"verbatim question {question[:40]!r} not ranked first")
    return bad


def knn_failures(
    ids: np.ndarray,
    matrix: np.ndarray,
    queries: np.ndarray,
    rows: list[tuple[int, int, float]],
    k: int,
) -> list[str]:
    """Check a batch top-``k`` result ``(query_id, id, similarity)``
    against numpy, exactly: same ids in the same order, same doubles."""
    got: dict[int, list[tuple[int, float]]] = {}
    for qid, vid, sim in rows:
        got.setdefault(int(qid), []).append((int(vid), float(sim)))
    bad = []
    for qid, q in enumerate(queries):
        sims = fold_cosine(matrix, q)
        top = topk(ids, sims, k)
        want = [(int(ids[i]), float(sims[i])) for i in top]
        have = sorted(got.get(qid, []), key=lambda t: (-t[1], t[0]))
        if have != want:
            bad.append(f"query {qid}: top-{k} differs from numpy")
    return bad


def recall(exact: list[tuple], approx: list[tuple]) -> float:
    """Share of exact ``(query_id, id, ...)`` pairs that ``approx`` found."""
    want = {(int(r[0]), int(r[1])) for r in exact}
    have = {(int(r[0]), int(r[1])) for r in approx}
    return len(want & have) / len(want) if want else 1.0


def oracle_mismatch(srows, scols, drows, dcols, dtypes, value_hash) -> str | None:
    """Compare a Spark result with its DuckDB twin the way
    ``tools/check_oracle.py`` does: DuckDB HUGEINT/DECIMAL columns
    become floats (as pandas types them), then row count, column
    names and the order-insensitive value hash must agree."""
    floaty = {i for i, t in enumerate(dtypes)
              if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL")}
    drows = [tuple(float(v) if i in floaty and v is not None else v
                   for i, v in enumerate(r)) for r in drows]
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} vs {len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} vs {sorted(dcols)}"
    if value_hash(srows, scols) != value_hash(drows, dcols):
        return "value-hash mismatch"
    return None
