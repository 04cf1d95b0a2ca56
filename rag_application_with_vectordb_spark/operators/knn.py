"""Exact KNN — the reference's entire query engine, distributed.

Reference (``services/vectorDb.ts:11-24``): full scan → cosine map →
full O(n log n) sort → slice(0, k), single-threaded on the browser main
thread. Spark-first translation:

- single query  → scan + codegen'd cosine expression +
  ``orderBy(...).limit(k)``, which Catalyst compiles to
  ``TakeOrderedAndProject``: per-partition O(n log k) heaps merged once —
  strictly better than the reference's full sort, and the *only* data
  movement is k rows per partition. No shuffle of the corpus, ever.
- query batch   → ``crossJoin(broadcast(queries))`` (Spark's
  BroadcastNestedLoopJoin — the reference's nested loop, parallelized over
  corpus partitions) + per-query top-k via a ``row_number`` window
  partitioned by query id. The shuffle moves only (query_id, id, sim)
  triples, never embeddings; at 1000 executors the corpus stays put and
  each task scores its local partition against every broadcast query.

Determinism: JS ``Array.sort`` is stable, so reference ties keep
insertion (id) order; Spark sort is not stable across partitions, so we
make the tiebreak explicit: ``ORDER BY similarity DESC, id ASC``
(SURVEY.md §2.3 K3).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_sim, vec_lit

__all__ = ["knn", "knn_join", "TWO_STAGE_MIN_PARTITIONS"]

#: Corpus-partition count above which :func:`knn_join` defaults to the
#: two-stage per-partition partial top-k. Below this, the single global
#: window is cheaper (one shuffle, tiny reducer input); above it, a
#: single reducer per query becomes the scaling bottleneck.
TWO_STAGE_MIN_PARTITIONS = 8


def knn(
    corpus: DataFrame,
    query_vec: Iterable[float] | Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: Iterable[str] = (),
) -> DataFrame:
    """Top-k rows of ``corpus`` by cosine similarity to one query vector.

    Mirrors ``vectorDb.search(queryEmbedding, topK)``
    (``vectorDb.ts:11-24``); k defaults to the reference call-site value 5
    (``App.tsx:191``). Empty corpus → empty result (``vectorDb.ts:12-14``
    falls out naturally).
    """
    q = query_vec if isinstance(query_vec, Column) else vec_lit(query_vec)
    sim = cosine_sim(F.col(vec_col), q)
    cols = [F.col(id_col), *[F.col(c) for c in keep_cols]]
    scored = corpus.select(*cols, sim.alias("similarity"))
    # Catalyst → TakeOrderedAndProject (verified via explain): per-partition
    # top-k heap + single merge. Never a full sort of the corpus.
    return scored.orderBy(F.desc("similarity"), F.asc(id_col)).limit(int(k))


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    two_stage: bool | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Batch KNN: top-k corpus neighbors for every row of ``queries``.

    Generalizes the reference's one-query-at-a-time loop to a set-oriented
    broadcast nested-loop join. The query side is broadcast (it is the
    small side by construction — the corpus is the 100 TB side); the
    per-query top-k shuffles only scored id-triples, hash-partitioned by
    query id.

    ``two_stage`` adds a per-(scan-partition, query) partial top-k
    before the global one: the first window's shuffle key includes the
    partition id, spreading each query over all reducers, and the second
    window only sees ``k × n_partitions`` rows per query. Results are
    identical either way (asserted in tests). Default (``None``) is
    AUTO: two-stage turns on when the corpus scan has more than
    :data:`TWO_STAGE_MIN_PARTITIONS` partitions — at that point a single
    reducer per query would funnel the whole scored corpus through one
    task, which is the 100×-scale bottleneck; below it the extra partial
    window costs more than it saves.
    """
    if two_stage is None:
        try:
            n_parts = corpus.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - defensive (plan not RDD-convertible)
            n_parts = corpus.sparkSession.sparkContext.defaultParallelism
        two_stage = n_parts > TWO_STAGE_MIN_PARTITIONS
    if dim is not None:
        # r12: unrolled fixed-dim cosine (functions.vector.cosine_sim_sql,
        # value-identical to the HOF form but codegen-able); both sides
        # are plain column names here, so the SQL form applies.
        from ..functions.vector import cosine_sim_sql

        sim = F.expr(cosine_sim_sql(corpus_vec, query_vec, dim))
    else:
        sim = cosine_sim(F.col(corpus_vec), F.col(query_vec))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .select(
            F.col(query_id),
            F.col(corpus_id),
            sim.alias("similarity"),
        )
    )
    order = (F.desc("similarity"), F.asc(corpus_id))
    if two_stage:
        scored = scored.withColumn("__pid", F.spark_partition_id())
        w1 = Window.partitionBy(query_id, "__pid").orderBy(*order)
        scored = (
            scored.withColumn("__prank", F.row_number().over(w1))
            .filter(F.col("__prank") <= int(k))
            .drop("__prank", "__pid")
        )
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .drop("rank")
    )
