"""Graph-based ANN (HNSW-lite): a deterministic kNN neighbor graph +
fixed-depth beam search, composed entirely from DataFrame operators.

This fills the one mainstream ANN family the engine lacked (NEXT.md /
VERDICT r6 gap #3): IVF/PQ/LSH/sign-bit partition or quantize the
space; graph methods instead walk a neighbor graph from an entry point
toward the query. Full HNSW's search loop is data-dependent ("expand
until no closer node"), which is driver-side control flow; the
established distributed re-expression — and what keeps this DETERMINISTIC
and oracle-checkable — is a FIXED-DEPTH beam search: ``hops`` rounds of
(frontier ⋈ edges → score → keep best ``beam`` new nodes per query).
Fixed depth makes the whole search ONE declarative plan (the unrolled-
iteration pattern proven by ``graph_pagerank``), at the cost of HNSW's
adaptive termination — recall is then governed by (beam, hops), which
the clustered-recall monitor measures.

Scale design (100 TB posture):
- Graph BUILD is cluster-bounded, never all-pairs: candidate pairs
  come from a shared IVF cell (the SemDeDup blocking pattern) —
  per-cell cost is |cell|², bounded by corpus/#cells, and cells build
  independently in parallel. The build is index-construction work: at
  scale it writes a persisted edge table once (like ``ivf_assign``),
  and every search reads it.
- SEARCH per hop is: frontier (queries × ≤beam nodes — tiny) ⋈ edges
  (shuffle-free if edges are bucketed by src) → score only the
  frontier's neighbors. Per-query work is O(hops · beam · M · d),
  INDEPENDENT of corpus size — the property that makes graph ANN
  attractive — vs IVF's O(cell size · d).
- Everything is exact fp64 HOF cosine with total-order tie-breaks
  (similarity DESC, vec_id ASC), so results bit-match the DuckDB
  oracle (``plans.ann_queries.ann_graph_topk``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import as_double, cosine_sim, cosine_sim_prenormed, l2_norm
from .ann import ivf_assign

__all__ = ["knn_graph_edges", "cell_medoids", "graph_entry_points", "graph_beam_topk"]


def knn_graph_edges(
    corpus: DataFrame,
    centroids,
    m: int = 6,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Symmetrized cluster-bounded exact kNN graph: per node, its ``m``
    nearest same-cell neighbors (cosine DESC, id ASC), then both edge
    directions, deduped. Output ``(src, dst)``.

    r13 (guide §4.2, VERDICT r12 item 1): the per-cell top-``m`` is ONE
    ``applyInArrow`` pass — each cell's members arrive as one Arrow
    group, the |cell|² similarity matrix is computed in numpy with the
    identical sequential per-dimension fold as the previous pair-join
    forms (HOF ``dot`` and r12's unrolled ``dot_fold_sql``), and the
    per-node top-``m`` replays the window's (cosine DESC, id ASC)
    order. The previous shape materialized every same-cell pair as a
    join row (~1e8 rows at sf10 — the dominant build cost) and pushed
    the slim triples through a window shuffle; now the only shuffle is
    the groupBy's |corpus| slim rows. Edge sets are bitwise-pinned
    against the pair-join form (test_graph_ann.py), and the composed
    queries stay oracle hash-green.

    Bit-exactness notes (the _assign_arrow contract): casts to float64
    before arithmetic; dots/norms are sequential per-dim folds from
    0.0; either norm exactly 0.0 → similarity 0.0; the dot fold cannot
    produce -0.0 (it starts at +0.0, and IEEE x + (-x) = +0.0), so the
    IEEE stable argsort equals the window's Double.compare order;
    ties break by ascending id via the stable sort over id-sorted rows.
    """
    assigned = ivf_assign(corpus, centroids, corpus_id, corpus_vec)
    from pyspark.sql.types import StructField, StructType

    from .ann import _arrow_f64_matrix

    id_type = assigned.schema[corpus_id].dataType
    out_schema = StructType(
        [StructField("src", id_type, True), StructField("dst", id_type, True)]
    )
    mm = int(m)
    want_d = dim

    def cell_topm(table):
        import numpy as np
        import pyarrow as pa

        id_t = table.schema.field(0).type
        n = table.num_rows
        if n <= 1:  # a singleton cell has no same-cell neighbors
            return pa.table(
                {"src": pa.array([], type=id_t), "dst": pa.array([], type=id_t)}
            )
        ids = table.column(0).to_numpy()
        order = np.argsort(ids)  # ids are unique; ascending-id rows make
        ids = ids[order]         # the stable sort's tiebreak == id ASC
        V, d = _arrow_f64_matrix(table.column(1).combine_chunks(), want_d)
        V = V[order]
        nrm = np.zeros(n)
        for j in range(d):  # sequential per-dim fold — see docstring
            nrm += V[:, j] * V[:, j]
        np.sqrt(nrm, out=nrm)
        keep = min(mm, n - 1)
        srcs = np.repeat(ids, keep)
        dsts = np.empty(n * keep, dtype=ids.dtype)
        # chunk the src side so the similarity block stays bounded
        # (|cell| is ~sqrt-blocked by construction; the chunking also
        # keeps a degenerate giant cell from allocating |cell|² at once)
        step = max(1, min(n, 16_000_000 // n))
        tmp = np.empty((step, n))
        for s in range(0, n, step):
            e = min(s + step, n)
            acc = np.zeros((e - s, n))
            for j in range(d):  # sequential per-dim fold — see docstring
                np.multiply(V[s:e, j][:, None], V[:, j][None, :], out=tmp[: e - s])
                acc += tmp[: e - s]
            denom = nrm[s:e, None] * nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = acc / denom
            sims[(nrm[s:e] == 0.0)[:, None] | (nrm == 0.0)[None, :]] = 0.0
            if np.isnan(sims).any():
                raise ValueError("knn_graph_edges: NaN similarity — non-finite input")
            sims[np.arange(s, e) - s, np.arange(s, e)] = -np.inf  # self
            top = np.argsort(-sims, axis=1, kind="stable")[:, :keep]
            dsts[s * keep : e * keep] = ids[top].ravel()
        return pa.table({"src": pa.array(srcs), "dst": pa.array(dsts)}).cast(
            pa.schema([("src", id_t), ("dst", id_t)])
        )

    top = (
        assigned.select(corpus_id, corpus_vec, "centroid_id")
        .groupBy("centroid_id")
        .applyInArrow(cell_topm, schema=out_schema)
    )
    return top.union(
        top.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def cell_medoids(
    corpus: DataFrame,
    centroids: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
    dim: int | None = None,
) -> DataFrame:
    """Per IVF cell, the member closest to the centroid (cosine DESC,
    id ASC) — the deterministic entry node for searches landing in that
    cell. Output ``(centroid_id, vec_id)``. ``dim`` engages the
    unrolled fixed-dim cosine (r12, value-identical — see
    functions.vector.cosine_sim_sql)."""
    assigned = ivf_assign(corpus, centroids, corpus_id, corpus_vec)
    if dim is not None:
        from ..functions.vector import cosine_sim_sql

        sim = F.expr(cosine_sim_sql(corpus_vec, centroid_vec, dim))
    else:
        sim = cosine_sim(F.col(corpus_vec), F.col(centroid_vec))
    joined = assigned.join(F.broadcast(centroids), centroid_id)
    w = Window.partitionBy(centroid_id).orderBy(F.desc(sim), F.asc(corpus_id))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(centroid_id, corpus_id)
    )


def graph_entry_points(
    queries: DataFrame,
    centroids: DataFrame,
    medoids: DataFrame,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
    n_entries: int = 1,
) -> DataFrame:
    """Each query starts at the medoids of its ``n_entries`` nearest
    cells (the nprobe analog — multiple entries cover queries landing
    near cell boundaries). Output ``(query_id, vec_id)``."""
    w = Window.partitionBy(query_id).orderBy(
        F.desc(cosine_sim(F.col(query_vec), F.col(centroid_vec))), F.asc(centroid_id)
    )
    probe = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(n_entries))
        .select(query_id, centroid_id)
    )
    return (
        probe.join(F.broadcast(medoids), centroid_id)
        .select(query_id, "vec_id")
        .distinct()
    )


def graph_beam_topk(
    corpus: DataFrame,
    edges: DataFrame,
    entries: DataFrame,
    queries: DataFrame,
    k: int = 5,
    beam: int = 8,
    hops: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    persist_levels: bool = True,
) -> DataFrame:
    """Fixed-depth beam search: ``hops`` rounds of expand-score-prune,
    then exact top-``k`` over every node visited. Candidate budget per
    query is ≤ ``1 + beam·hops`` scored nodes — compare IVF nprobe=1's
    whole-cell budget. Output ``(query_id, vec_id, similarity)``.

    ``persist_levels``: each level's visited set (≤ queries × beam rows
    — tiny) is cached; without it, level ``h``'s anti-join re-derives
    every earlier level's subtree and the plan re-evaluates the edge
    relation O(2^hops) times (measured 31 s → 2 s at sf0.1). Caches are
    bounded and per-plan; pass False for a purely declarative tree."""
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"), as_double(F.col(corpus_vec)).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    q = queries.select(
        F.col(query_id).alias("query_id"), as_double(F.col(query_vec)).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))

    def score(nodes: DataFrame) -> DataFrame:
        return (
            nodes.join(c, "vec_id")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "vec_id",
                cosine_sim_prenormed(
                    F.col("__cv"), F.col("__cn"), F.col("__qv"), F.col("__qn")
                ).alias("similarity"),
            )
        )

    visited = score(entries.select("query_id", "vec_id"))
    if persist_levels:
        visited = visited.persist()
    frontier = visited.select("query_id", "vec_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("vec_id"))
    for _ in range(int(hops)):
        nbrs = (
            frontier.join(edges, frontier["vec_id"] == edges["src"])
            .select("query_id", F.col("dst").alias("vec_id"))
            .distinct()
            .join(visited.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti")
        )
        new = (
            score(nbrs)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(beam))
            .drop("__rn")
        )
        visited = visited.unionByName(new)
        if persist_levels:
            visited = visited.persist()
        frontier = new.select("query_id", "vec_id")
    return (
        visited.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn")
    )
