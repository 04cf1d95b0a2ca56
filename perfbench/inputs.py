"""Seeded input generators. Every input of every workload comes from
here, as a pure function of the run's seed; the engine sees only the
generated documents, questions, vectors and tables.
"""

from __future__ import annotations

import hashlib
import random
import time
from collections.abc import Iterator

import numpy as np

#: Pseudo-words in the vocabulary.
VOCAB_WORDS = 4000
#: Document lengths spread evenly over this range, so each document
#: chunks into two to eight sliding windows.
DOC_CHARS = (1200, 6000)
#: Share of questions that are the verbatim text of a stored chunk.
VERBATIM_SHARE = 0.25
#: Parquet files per document table, as Spark writes a table, so that
#: reading it is split over the cores.
PARTS = 8
#: The stand-in embedding model: vector size, Zipf exponent of the topic
#: shares, and spread of a vector around its topic centre.
DIM = 64
ZIPF_S = 1.1
SIGMA = 0.35

_SYLLABLES = (
    "ka lo mi ten ra sul vo ne tri pa dor en qui za mo le ris tu ba "
    "cho fin gra hel ix jun kor lum nav ost pri que sen tal ur vim wex yor"
).split()


def vocabulary(rng: random.Random) -> list[str]:
    """``VOCAB_WORDS`` distinct pseudo-words of one to four syllables."""
    words: set[str] = set()
    while len(words) < VOCAB_WORDS:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4))))
    return sorted(words)


def documents(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    """``n`` documents of random words. Their lengths spread evenly over
    ``DOC_CHARS`` in seeded order: the words differ from seed to seed,
    the amount of text does not."""
    lo, hi = DOC_CHARS
    lengths = [lo + (hi - lo) * i // max(1, n - 1) for i in range(n)]
    rng.shuffle(lengths)
    out = []
    for target in lengths:
        words, size = [], 0
        while size < target:
            w = rng.choice(vocab)
            words.append(w)
            size += len(w) + 1
        out.append(" ".join(words))
    return out


def sliding_chunks(text: str, size: int, overlap: int) -> list[str]:
    """The reference chunking loop (``App.tsx:57-61``), used only to pick
    stored chunks as verbatim questions."""
    stride = size - overlap
    chunks = [text[i:i + size] for i in range(0, len(text), stride)]
    return [c for c in chunks if c.strip()]


def questions(rng: random.Random, vocab: list[str],
              chunks: list[str]) -> Iterator[tuple[str, bool]]:
    """Endless stream of distinct questions ``(text, is_verbatim)``.
    A ``VERBATIM_SHARE`` of them are the exact text of a stored chunk
    (drawn without replacement); the rest are 8..16 random words."""
    seen: set[str] = set()
    pool = list(range(len(chunks)))
    rng.shuffle(pool)
    while True:
        verbatim = bool(pool) and rng.random() < VERBATIM_SHARE
        text = chunks[pool.pop()] if verbatim else " ".join(
            rng.choice(vocab) for _ in range(rng.randint(8, 16)))
        if text not in seen:
            seen.add(text)
            yield text, verbatim


def write_documents(path: str, texts: list[str]) -> None:
    """Write ``(doc_id, text)`` as a parquet table directory of
    ``PARTS`` files, the layout Spark writes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(texts) // PARTS)
    for p, lo in enumerate(range(0, len(texts), step)):
        chunk = texts[lo:lo + step]
        table = pa.table({"doc_id": pa.array(range(lo, lo + len(chunk)), pa.int64()),
                          "text": chunk})
        pq.write_table(table, os.path.join(path, f"part-{p:05d}.parquet"))


class TopicTransport:
    """Deterministic stand-in for the reference's embedding API.

    Each text maps to a point near one of ``topics`` seeded centres;
    topic shares follow a Zipf law, so IVF cells and graph cells are
    skewed the way real corpora are. The vector is a pure function of
    (seed, text). ``calls`` and ``busy_ms`` are Spark accumulators that
    count API calls and the time spent inside the model, which runs in
    the executors' Python workers.
    """

    def __init__(self, seed: int, topics: int, sc=None):
        rng = np.random.default_rng(seed)
        self.centres = rng.standard_normal((topics, DIM))
        w = 1.0 / np.arange(1, topics + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.cdf[-1] = 1.0
        self.calls = sc.accumulator(0) if sc is not None else None
        self.busy_ms = sc.accumulator(0.0) if sc is not None else None

    def __call__(self, texts: list[str]) -> list[list[float]]:
        t0 = time.perf_counter()
        out = []
        for text in texts:
            h = int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "little")
            rng = np.random.default_rng(h)
            c = int(np.searchsorted(self.cdf, rng.random(), side="right"))
            vec = self.centres[c] + SIGMA * rng.standard_normal(DIM)
            out.append(vec.tolist())
        if self.calls is not None:
            self.calls.add(1)
            self.busy_ms.add((time.perf_counter() - t0) * 1e3)
        return out
