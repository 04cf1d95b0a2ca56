"""``index_build``: batch embedding generation and index construction.

One op is one cycle, and every cycle runs in the same session. A cycle
ingests a fresh seeded document batch into a fresh store with
``ApiEmbedder`` over a deterministic stand-in model
(:class:`perfbench.inputs.TopicTransport`: clustered, Zipf-skewed
vectors), then builds the indexes over that store and writes them next
to it: ``kmeans_fit_spherical_fp``, ``ivf_assign``, ``knn_graph_edges``
and ``cell_medoids``. It then sends one question batch through
``knn_join`` (the exact answer), ``ann_ivf_topk`` and
``graph_entry_points`` + ``graph_beam_topk``. One item is one chunk
indexed. Nothing is unpersisted or cleared between cycles, so growth
across cycles stays visible.

After the timed loop every cycle's ``knn_join`` result is checked
against numpy over that cycle's store.

The traced form splits the lazy ingest by prefix: the chunker alone
and chunker + embedder are forced to the ``noop`` sink first, and the
differences give each layer's share.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
from pyspark.sql import functions as F
from rag_application_with_vectordb_spark.embedder import ApiEmbedder
from rag_application_with_vectordb_spark.operators.ann import ann_ivf_topk, ivf_assign
from rag_application_with_vectordb_spark.operators.chunker import chunk_documents
from rag_application_with_vectordb_spark.operators.graph_ann import (
    cell_medoids,
    graph_beam_topk,
    graph_entry_points,
    knn_graph_edges,
)
from rag_application_with_vectordb_spark.operators.kmeans import kmeans_fit_spherical_fp
from rag_application_with_vectordb_spark.operators.knn import knn_join
from rag_application_with_vectordb_spark.rag import VectorStore, ingest_documents

from perfbench import checks, harness, inputs

SIZES = {
    "full": {"docs": 300, "centroids": 8, "graph_m": 6, "queries": 16, "topics": 8},
    "tiny": {"docs": 20, "centroids": 4, "graph_m": 4, "queries": 4, "topics": 4},
}
TOP_K = 10
NPROBE = 2
KMEANS_ITERATIONS = 2
#: Warm-up cycles, at the timed size, before timing: the first pays JIT
#: and code generation.
WARMUP_CYCLES = 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    cfg = SIZES[ctx.size]
    rng = random.Random(ctx.seed)
    query_model = inputs.TopicTransport(ctx.seed, topics=cfg["topics"])
    with ctx.own_work():
        vocab = inputs.vocabulary(rng)
    batches: dict[int, dict] = {}

    def batch(op_id: int) -> dict:
        """The seeded inputs of cycle ``op_id`` (negative: warm-up)."""
        if op_id not in batches:
            d = os.path.join(ctx.dir, f"cycle{op_id}")
            os.makedirs(d)
            texts = inputs.documents(rng, vocab, cfg["docs"])
            inputs.write_documents(os.path.join(d, "docs.parquet"), texts)
            qtexts = [" ".join(rng.choice(vocab) for _ in range(12)) for _ in range(cfg["queries"])]
            batches[op_id] = {"dir": d, "docs": len(texts),
                              "queries": np.array(query_model(qtexts))}
        return batches[op_id]

    with ctx.own_work():
        for op_id in range(-WARMUP_CYCLES, 3):  # more are made on demand, inside the op
            batch(op_id)

    spark = ctx.start_spark()
    sc = spark.sparkContext
    model = inputs.TopicTransport(ctx.seed, topics=cfg["topics"], sc=sc)
    embedder = ApiEmbedder(transport=model)
    tracer = harness.Tracer(sc, enabled=False)
    span = tracer.span
    outputs: dict[int, dict] = {}

    def cycle(op_id: int) -> float:
        b = batch(op_id)
        d = b["dir"]
        out = outputs[op_id] = {}
        with span("index_build.cycle", op_id):
            docs = spark.read.parquet(os.path.join(d, "docs.parquet"))
            store = VectorStore(spark, os.path.join(d, "store"))
            if tracer.enabled:
                chunks = chunk_documents(docs)
                with span("prefix.chunker", op_id):
                    _noop(chunks)
                with_id = chunks.select(
                    F.xxhash64(F.col("doc_id"), F.col("chunk_id")).alias("id"),
                    F.col("chunk_text").alias("text"))
                with span("prefix.chunker+embedder", op_id):
                    _noop(embedder.embed_df(with_id, text_col="text"))
            calls0, busy0 = model.calls.value, model.busy_ms.value
            t0 = time.perf_counter()
            with span("rag.ingest", op_id):
                ingest_documents(store, docs, embedder=embedder)
            out["ingest_ms"] = (time.perf_counter() - t0) * 1e3
            out["api_calls"] = model.calls.value - calls0
            out["transport_ms"] = model.busy_ms.value - busy0
            corpus = store.df().select(F.col("id").alias("vec_id"), "embedding")
            with span("operators.kmeans.fit", op_id):
                cents = kmeans_fit_spherical_fp(corpus, k=cfg["centroids"],
                                                iterations=KMEANS_ITERATIONS)
            with span("operators.ann.ivf_assign", op_id):
                ivf_assign(corpus, cents).write.parquet(os.path.join(d, "ivf"))
            with span("operators.graph_ann.edges", op_id):
                knn_graph_edges(corpus, cents, m=cfg["graph_m"]).write.parquet(
                    os.path.join(d, "edges"))
            with span("operators.graph_ann.medoids", op_id):
                cell_medoids(corpus, cents).write.parquet(os.path.join(d, "medoids"))
            queries = spark.createDataFrame(
                [(i, [float(x) for x in q]) for i, q in enumerate(b["queries"])],
                "query_id long, qvec array<double>")
            with span("operators.knn.knn_join", op_id):
                out["exact"] = [tuple(r) for r in knn_join(corpus, queries, k=TOP_K).collect()]
            with span("operators.ann.ivf_topk", op_id):
                inverted = spark.read.parquet(os.path.join(d, "ivf"))
                out["ivf"] = [tuple(r) for r in ann_ivf_topk(
                    corpus, cents, queries, k=TOP_K, nprobe=NPROBE, inverted=inverted).collect()]
            with span("operators.graph_ann.beam_topk", op_id):
                entries = graph_entry_points(
                    queries, cents, spark.read.parquet(os.path.join(d, "medoids")))
                out["graph"] = [tuple(r) for r in graph_beam_topk(
                    corpus, spark.read.parquet(os.path.join(d, "edges")), entries, queries,
                    k=TOP_K).collect()]
        out["centroids"] = cents
        out["storage_mb"] = harness.storage_mem_mb(sc)
        return checks.parquet_rows(os.path.join(d, "store"))

    def warmup() -> None:
        for op_id in range(-WARMUP_CYCLES, 0):
            cycle(op_id)

    win = harness.measure(ctx, tracer, cycle, warmup)

    with ctx.own_work():
        problems, bad_ops, per_op = [], set(), {}
        for op_id, out in outputs.items():
            if "graph" not in out:  # the cycle raised; already counted
                continue
            b = batches[op_id]
            ids, _, matrix = checks.read_store(os.path.join(b["dir"], "store"))
            msgs = checks.knn_failures(ids, matrix, b["queries"], out["exact"], TOP_K)
            problems.extend(f"cycle {op_id}: {m}" for m in msgs)
            if msgs and op_id >= 0:
                bad_ops.add(op_id)
            per_op[op_id] = {
                "chunks": len(ids),
                "ivf_recall": checks.recall(out["exact"], out["ivf"]),
                "graph_recall": checks.recall(out["exact"], out["graph"]),
                "candidates": ivf_candidates(out["centroids"], b),
            }
    layers = {}
    if ctx.trace:
        ops = list(win.traced.ids)

        def med(f):
            return harness.median(f(i) for i in ops if i in per_op)

        def store_files(i):
            return checks.parquet_files(os.path.join(batches[i]["dir"], "store"))

        def span_ms(name, i):
            return next(s.ms for s in tracer.op_spans(i) if s.name == name)

        layers = {
            "session.start_s": ctx.session_start_s,
            **harness.span_medians(tracer, {
                "rag.ingest_ms": "rag.ingest",
                "operators.chunker.chunk_ms": "prefix.chunker",
                "operators.kmeans.fit_ms": "operators.kmeans.fit",
                "operators.ann.ivf_assign_ms": "operators.ann.ivf_assign",
                "operators.ann.ivf_topk_ms": "operators.ann.ivf_topk",
                "operators.graph_ann.edges_ms": "operators.graph_ann.edges",
                "operators.graph_ann.medoids_ms": "operators.graph_ann.medoids",
                "operators.graph_ann.beam_topk_ms": "operators.graph_ann.beam_topk",
                "operators.knn.knn_join_ms": "operators.knn.knn_join",
            }),
            **harness.span_medians(tracer, {
                "operators.kmeans.fit_jobs": "operators.kmeans.fit",
                "operators.graph_ann.edges_jobs": "operators.graph_ann.edges",
                "operators.graph_ann.beam_jobs": "operators.graph_ann.beam_topk",
            }, jobs=True),
            "embedder.embed_df_ms": med(lambda i: span_ms("prefix.chunker+embedder", i)
                                        - span_ms("prefix.chunker", i)),
            "embedder.transport_ms": med(lambda i: outputs[i]["transport_ms"]),
            "embedder.api_calls": med(lambda i: outputs[i]["api_calls"]),
            "operators.chunker.chunks_per_doc": med(
                lambda i: per_op[i]["chunks"] / batches[i]["docs"]),
            "rag.store_bytes_per_chunk": med(
                lambda i: sum(map(os.path.getsize, store_files(i))) / per_op[i]["chunks"]),
            "rag.store_files": med(lambda i: len(store_files(i))),
            "operators.ann.ivf_candidates_per_query": med(lambda i: per_op[i]["candidates"]),
            "operators.ann.ivf_recall_at_10": med(lambda i: per_op[i]["ivf_recall"]),
            "operators.graph_ann.recall_at_10": med(lambda i: per_op[i]["graph_recall"]),
            **harness.runtime_layers(tracer, win),
        }
        tracer.dump(os.path.join(os.path.dirname(ctx.dir), "traces",
                                 f"index_build-seed{ctx.seed}.jsonl"))
    context = {
        "sizes": {"docs_per_cycle": cfg["docs"], "warmup_cycles": WARMUP_CYCLES,
                  "centroids": cfg["centroids"], "graph_m": cfg["graph_m"],
                  "queries": cfg["queries"], "topics": cfg["topics"], "top_k": TOP_K,
                  "nprobe": NPROBE,
                  "chunks_per_cycle": {i: p["chunks"] for i, p in per_op.items()}},
        "cycle_ms": dict(zip(win.untraced.ids, win.untraced.latencies_ms)),
        # growth across the session's cycles, warm-up included
        "ingest_ms": {i: o["ingest_ms"] for i, o in outputs.items() if "ingest_ms" in o},
        "storage_mem_mb": {i: o["storage_mb"] for i, o in outputs.items() if "storage_mb" in o},
        "recall_at_10": {i: [p["ivf_recall"], p["graph_recall"]] for i, p in per_op.items()},
        "index_stores_existed": ctx.index_stores_existed,
    }
    return harness.result(ctx, win, bad_ops, layers, context, problems)


def ivf_candidates(centroids, b: dict) -> float:
    """Corpus vectors an IVF probe scores per query: the sizes of each
    query's ``NPROBE`` nearest cells (cosine desc, cell id asc), from
    the written assignment."""
    import pyarrow.dataset as ds

    rows = sorted((int(r[0]), [float(x) for x in r[1]]) for r in centroids.collect())
    cids = np.array([c for c, _ in rows])
    cmat = np.array([v for _, v in rows])
    assigned = ds.dataset(os.path.join(b["dir"], "ivf"), format="parquet").to_table(
        columns=["centroid_id"]).column("centroid_id").to_numpy()
    sizes = {int(c): int(n) for c, n in zip(*np.unique(assigned, return_counts=True))}
    total = 0
    for q in b["queries"]:
        probes = checks.topk(cids, checks.fold_cosine(cmat, q), NPROBE)
        total += sum(sizes.get(int(cids[p]), 0) for p in probes)
    return total / len(b["queries"])
