"""``rag_chat`` ops: the reference's query path, one question at a time.

Set-up loads seeded multi-chunk documents as the catalog's
``documents`` table (``sources.catalog.load_table``) and fills a
file-backed ``VectorStore`` from it with ``ingest_documents``
(``HashEmbedder``). One op is one ``RagPipeline.ask(question)``; one
item is one question. Questions are all distinct, and a quarter of them
are the verbatim text of a stored chunk. After the timed loop every
answer is checked against a numpy top-5 over the store's parquet files.

The traced form of an op calls the public steps ``ask()`` is made of:
``embed_one``, ``store.search``, ``.collect()`` and the answerer.
"""

from __future__ import annotations

import os
import random
import time

from rag_application_with_vectordb_spark.operators.chunker import CHUNK_OVERLAP, CHUNK_SIZE
from rag_application_with_vectordb_spark.rag import (
    CONTEXT_SEPARATOR,
    PROMPT_TEMPLATE,
    RagPipeline,
    VectorStore,
    ingest_documents,
)
from rag_application_with_vectordb_spark.sources.catalog import load_table

from perfbench import checks, harness, inputs

DOCS = {"full": 2000, "tiny": 40}
TOP_K = 5


def render(context: str, question: str) -> str:
    """The answer the default answerer gives for ``context``."""
    return PROMPT_TEMPLATE.format(context=context, question=question)


class Chat:
    """The ``ask`` op kind over a store filled from seeded documents."""

    name = "rag_chat"
    kinds = ("ask",)

    def __init__(self, ctx, tracer: harness.Tracer):
        self.ctx, self.tracer = ctx, tracer
        with ctx.own_work():
            rng = random.Random(ctx.seed)
            vocab = inputs.vocabulary(rng)
            texts = inputs.documents(rng, vocab, DOCS[ctx.size])
            self.catalog_dir = os.path.join(ctx.dir, "catalog")
            os.makedirs(self.catalog_dir)
            inputs.write_documents(os.path.join(self.catalog_dir, "documents.parquet"), texts)
            chunks = [c for t in texts
                      for c in inputs.sliding_chunks(t, CHUNK_SIZE, CHUNK_OVERLAP)]
            self.stream = inputs.questions(rng, vocab, chunks)
        self.n_docs, self.n_vocab = len(texts), len(vocab)
        spark = ctx.spark
        self.store_path = os.path.join(ctx.dir, "store")
        store = VectorStore(spark, self.store_path)
        t0 = time.perf_counter()
        ingest_documents(store, load_table(spark, self.catalog_dir, "documents"))
        self.ingest_ms = (time.perf_counter() - t0) * 1e3
        self.pipe = RagPipeline(store)
        self.asked: dict[int, tuple[str, bool, str]] = {}
        self.n_chunks = 0

    def cold(self) -> None:
        """Nothing to prepare beyond the ingest."""

    def op(self, op_id: int, kind: int) -> float:
        question, verbatim = next(self.stream)
        pipe, tracer = self.pipe, self.tracer
        if not tracer.enabled:
            self.asked[op_id] = (question, verbatim, pipe.ask(question, k=TOP_K))
            return 1
        with tracer.span("rag.ask", op_id):
            with tracer.span("embedder.embed_one", op_id):
                qvec = pipe.embedder.embed_one(question)
            with tracer.span("rag.search_build", op_id):
                found = pipe.store.search(qvec, k=TOP_K)
            with tracer.span("rag.search_exec", op_id) as sp:
                rows = found.collect()
                sp.extra["results"] = len(rows)
            with tracer.span("rag.answer", op_id):
                context = CONTEXT_SEPARATOR.join(r["text"] for r in rows)
                self.asked[op_id] = (question, verbatim, pipe.answerer(context, question))
        return 1

    def check(self) -> tuple[set[int], list[str]]:
        """Every answer, warm-up ones included, against numpy; returns
        the timed ops that failed and every failure's message."""
        store_rows = checks.read_store(self.store_path)
        self.n_chunks = len(store_rows[0])
        problems, bad_ops = [], set()
        for op_id, entry in self.asked.items():
            msgs = checks.rag_answer_failures(store_rows, [entry], render,
                                              CONTEXT_SEPARATOR, TOP_K)
            problems.extend(msgs)
            if msgs and op_id >= 0:  # warm-up ops are not timed ops
                bad_ops.add(op_id)
        return bad_ops, problems

    def traced_extras(self, op_id: int) -> None:
        """One direct call into the table layer."""
        with self.tracer.span("sources.catalog.load_table", op_id, table="documents"):
            load_table(self.ctx.spark, self.catalog_dir, "documents")
        self.tracer.collect_spark(op_id)

    def layers(self) -> dict:
        tracer = self.tracer
        exec_spans = [s for s in tracer.spans if s.name == "rag.search_exec"]
        files = checks.parquet_files(self.store_path)
        return {
            **harness.span_medians(tracer, {
                "embedder.embed_one_ms": "embedder.embed_one",
                "rag.search_build_ms": "rag.search_build",
                "rag.search_exec_ms": "rag.search_exec",
                "rag.answer_ms": "rag.answer",
            }),
            "operators.knn.rows_scanned_per_result": harness.median(
                s.spark["input_records"] / max(1, s.extra["results"]) for s in exec_spans),
            "rag.ingest_ms": self.ingest_ms,
            "rag.store_bytes_per_chunk": sum(map(os.path.getsize, files)) / self.n_chunks,
            "rag.store_files": len(files),
        }

    def context(self) -> dict:
        return {
            "sizes": {"documents": self.n_docs, "chunks": self.n_chunks,
                      "vocabulary": self.n_vocab, "verbatim_share": inputs.VERBATIM_SHARE,
                      "top_k": TOP_K, "questions_asked": len(self.asked),
                      "verbatim_asked": sum(v for _, v, _ in self.asked.values())},
            "setup_ingest_ms": self.ingest_ms,
        }

    def close(self) -> None:
        """Nothing outside the run's directory to remove."""
