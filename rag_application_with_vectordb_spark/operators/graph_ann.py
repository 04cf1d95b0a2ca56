"""Graph-based ANN (HNSW-lite): a deterministic kNN neighbor graph +
fixed-depth beam search.

This fills the one mainstream ANN family the engine lacked (NEXT.md /
VERDICT r6 gap #3): IVF/PQ/LSH/sign-bit partition or quantize the
space; graph methods instead walk a neighbor graph from an entry point
toward the query. Full HNSW's search loop is data-dependent ("expand
until no closer node"); what keeps this DETERMINISTIC and
oracle-checkable is a FIXED-DEPTH beam search: ``hops`` rounds of
(frontier's out-edges → score → keep best ``beam`` new nodes per
query), at the cost of HNSW's adaptive termination — recall is then
governed by (beam, hops), which the clustered-recall monitor measures.
The oracle twin writes the same rounds as an unrolled SQL plan.

Scale design (100 TB posture):
- Graph BUILD is cluster-bounded, never all-pairs: candidate pairs
  come from a shared IVF cell (the SemDeDup blocking pattern) —
  per-cell cost is |cell|², bounded by corpus/#cells, and cells build
  independently in parallel. The build is index-construction work: at
  scale it writes a persisted edge table once (like ``ivf_assign``),
  and every search reads it.
- SEARCH state is queries × ≤beam nodes per hop — kilobytes — so it
  lives on the driver; each hop is two filtered scans, the frontier's
  out-edges and the new candidates' vectors. Per-query work is
  O(hops · beam · M · d), INDEPENDENT of corpus size — the property
  that makes graph ANN attractive — vs IVF's O(cell size · d).
- Everything is exact fp64 cosine (sequential per-dimension folds) with
  total-order tie-breaks (similarity DESC, vec_id ASC), so results
  bit-match the DuckDB oracle (``plans.ann_queries.ann_graph_topk``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
    directions, deduped inside the kernel — the plan has one
    ``FlatMapGroupsInArrow`` and no union or distinct. Output
    ``(src, dst)``.

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
        # both directions, deduped here: every edge's endpoints share
        # this cell, so the per-cell dedupe is the global one
        both = np.unique(
            np.stack([np.concatenate([srcs, dsts]), np.concatenate([dsts, srcs])], 1),
            axis=0,
        )
        return pa.table({"src": pa.array(both[:, 0]), "dst": pa.array(both[:, 1])}).cast(
            pa.schema([("src", id_t), ("dst", id_t)])
        )

    return (
        assigned.select(corpus_id, corpus_vec, "centroid_id")
        .groupBy("centroid_id")
        .applyInArrow(cell_topm, schema=out_schema)
    )


def cell_medoids(
    corpus: DataFrame,
    centroids,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
) -> DataFrame:
    """Per IVF cell, the member closest to the centroid (cosine DESC,
    id ASC) — the deterministic entry node for searches landing in that
    cell. Output ``(centroid_id bigint, vec_id)``, a local relation
    sorted by ``centroid_id``: collecting it starts no job.

    The call is EAGER: one map-only mapInArrow pass assigns every row
    to its nearest centroid with ``ivf_assign``'s kernel
    (``_nearest_rows``, the ``_assign_arrow`` contract) and keeps, per
    task, each cell's best row; the driver reduces those ≤ k rows per
    task. The ranking similarity is the assignment's own cosine, so no
    second similarity pass and no shuffle run. Contract violations
    (NULL, ragged or non-finite vectors) raise ``ValueError``."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from .ann import (
        ARROW_ASSIGN_MAX,
        CentroidLimitError,
        _arrow_f64_matrix,
        _collect_centroids,
        _fold_norms,
        _nearest_rows,
    )

    cents = _collect_centroids(centroids, centroid_id, centroid_vec, ARROW_ASSIGN_MAX)
    if cents is None:
        raise CentroidLimitError("cell_medoids", ARROW_ASSIGN_MAX)
    id_field = corpus.schema[corpus_id]
    out_schema = StructType(
        [StructField(centroid_id, LongType(), True), StructField(corpus_id, id_field.dataType, True)]
    )
    rows = []
    if cents:
        mat = [v for _, v in cents]
        cids = [c for c, _ in cents]
        best_schema = StructType(
            [
                StructField("cell", LongType(), True),
                StructField("member", id_field.dataType, True),
                StructField("sim", DoubleType(), True),
            ]
        )

        def best_per_cell(batches):
            C = np.asarray(mat, dtype=np.float64)  # (k, dim), ascending cid
            cn = _fold_norms(C)
            cid_arr = np.asarray(cids, dtype=np.int64)
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                V, _ = _arrow_f64_matrix(batch.column(1), C.shape[1])
                cell, sim = _nearest_rows(V, C, cn, "cell_medoids")
                ids = batch.column(0).to_numpy(zero_copy_only=False)
                order = np.lexsort((ids, -sim, cell))  # per cell: sim DESC, id ASC
                _, first = np.unique(cell[order], return_index=True)
                pick = order[first]
                yield pa.record_batch(
                    [pa.array(cid_arr[cell[pick]]), batch.column(0).take(pick), pa.array(sim[pick])],
                    names=["cell", "member", "sim"],
                )

        best: dict = {}
        t = corpus.select(corpus_id, corpus_vec).mapInArrow(best_per_cell, best_schema).toArrow()
        for c, m, sv in zip(*(t.column(i).to_pylist() for i in range(3))):
            if c not in best or (-sv, m) < (-best[c][1], best[c][0]):
                best[c] = (m, sv)
        rows = sorted((c, m) for c, (m, _) in best.items())
    table = pa.table(
        {centroid_id: pa.array([r[0] for r in rows], pa.int64()),
         corpus_id: [r[1] for r in rows]}
    )
    return corpus.sparkSession.createDataFrame(table, out_schema)


def graph_entry_points(
    queries: DataFrame,
    centroids,
    medoids: DataFrame,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
    n_entries: int = 1,
) -> DataFrame:
    """Each query starts at the medoids of its ``n_entries`` nearest
    cells (the nprobe analog — multiple entries cover queries landing
    near cell boundaries). Output ``(query_id, vec_id)``, distinct, a
    local relation: collecting it starts no job.

    The call is EAGER: it collects ``queries``, ``centroids`` and
    ``medoids`` (queries × centroids similarities — driver-sized) and
    ranks cells per query by (cosine DESC, centroid id ASC) with
    ``cosine_sim``'s semantics: sequential per-dimension folds from
    0.0, zero norm → 0.0, a query/centroid dim mismatch → -1.0. A NULL,
    ragged or non-finite query or centroid vector raises
    ``ValueError``."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType, queries.schema[query_id].nullable),
            StructField("vec_id", medoids.schema["vec_id"].dataType, medoids.schema["vec_id"].nullable),
        ]
    )
    qt = queries.select(query_id, query_vec).toArrow()
    ct = centroids.select(centroid_id, centroid_vec).toArrow()
    by_cell: dict = {}
    mt = medoids.select(centroid_id, "vec_id").toArrow()
    for c, v in zip(mt.column(0).to_pylist(), mt.column(1).to_pylist()):
        by_cell.setdefault(c, []).append(v)
    rows = []
    if qt.num_rows and ct.num_rows:
        Q, qn, dq = _beam_vectors(qt.column(1), None, "query vectors", "graph_entry_points")
        C, cn, dc = _beam_vectors(ct.column(1), None, "centroid vectors", "graph_entry_points")
        cids = np.array(ct.column(0).to_pylist())
        if dq != dc:
            sims = np.full((len(Q), len(C)), -1.0)
        else:
            acc = np.zeros((len(Q), len(C)))
            for j in range(dq):  # sequential per-dim fold
                acc += Q[:, j][:, None] * C[:, j][None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = acc / (qn[:, None] * cn[None, :])
            sims[(qn == 0.0)[:, None] | (cn == 0.0)[None, :]] = 0.0
        for q, row in zip(qt.column(0).to_pylist(), sims):
            cells = np.lexsort((cids, -row))[: int(n_entries)]
            nodes = {v for c in cids[cells].tolist() for v in by_cell.get(c, ())}
            rows.extend((q, v) for v in sorted(nodes))
    table = pa.table(
        {query_id: [r[0] for r in rows], "vec_id": [r[1] for r in rows]}
    )
    return queries.sparkSession.createDataFrame(table, out_schema)


def _id_in(col: str, ids) -> Column:
    """``col IN (ids)`` as ONE py4j call (see ``functions.vector.lit_doubles``)."""
    return F.expr(f"`{col}` IN ({','.join(str(int(i)) for i in ids)})")


def _beam_vectors(vec, d: int | None, what: str, op: str = "graph_beam_topk"):
    """Decode a vector column for ``op`` and fold its norms:
    ``(matrix, norms, d)``. Contract violations raise a ``ValueError``
    naming ``op``."""
    import numpy as np

    from .ann import _arrow_f64_matrix

    try:
        V, d = _arrow_f64_matrix(vec, d)
    except ValueError as e:
        raise ValueError(f"{op}: {what}: {e}") from None
    if not np.isfinite(V).all():
        raise ValueError(f"{op}: {what}: NaN or infinite components")
    nrm = np.zeros(len(V))
    for j in range(d):  # sequential per-dim fold, as in _assign_arrow
        nrm += V[:, j] * V[:, j]
    return V, np.sqrt(nrm), d


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
) -> DataFrame:
    """Fixed-depth beam search: ``hops`` rounds of expand-score-prune,
    then exact top-``k`` over every node visited. Candidate budget per
    query is ≤ ``entries + beam·hops`` scored nodes — compare IVF
    nprobe=1's whole-cell budget. Output ``(query_id, vec_id,
    similarity)``, a local relation: collecting it starts no job.

    The call is EAGER. The search state — per query, the frontier and
    the visited (node, similarity) pairs, ≤ entries + beam·hops of
    them — lives on the driver, and the Spark work runs before the call
    returns: one collect each of ``queries`` and ``entries``, then two
    filtered scans per hop — the frontier's out-edges (``src IN …``)
    and the new candidates' vectors (``vec_id IN …``; the entries'
    vectors ride along in the first hop's). A scan with nothing to
    fetch is skipped. Nothing is persisted, so the call leaves no cache
    behind.

    Driver memory: a hop fetches at most queries × max(entries, beam) ×
    out-degree candidate vectors of ``dim`` doubles (plus the edge rows
    that name them); fetched vectors are kept until the call returns,
    so the total is bounded by ``hops`` times that.

    Scoring is the ``_assign_arrow`` / ``cell_topm`` contract: cast to
    float64, dots and norms are sequential per-dimension folds from
    0.0, either norm exactly 0.0 → similarity 0.0. Each hop keeps, per
    query, the best ``beam`` unvisited out-neighbours of its frontier
    by (similarity DESC, vec_id ASC), the DuckDB oracle's order; the
    fold cannot produce -0.0, so the order is total. Corpus ids are
    unique; an entry or neighbour absent from the corpus is skipped. A
    NULL, NaN/infinite or wrong-length vector among the queries or the
    scored candidates raises ``ValueError``."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = corpus.sparkSession
    out_schema = StructType(
        [
            StructField(
                "query_id",
                queries.schema[query_id].dataType,
                queries.schema[query_id].nullable,
            ),
            StructField("vec_id", corpus.schema[corpus_id].dataType, True),
            StructField("similarity", DoubleType(), True),
        ]
    )
    qt = queries.select(query_id, query_vec).toArrow()
    q_ids = qt.column(0).to_pylist()
    qrow = {q: i for i, q in enumerate(q_ids)}
    starts: list[set] = [set() for _ in q_ids]
    if q_ids:
        Q, qn, d = _beam_vectors(qt.column(1), None, "query vectors")
        et = entries.select("query_id", "vec_id").toArrow()
        for q, node in zip(et.column(0).to_pylist(), et.column(1).to_pylist()):
            if q in qrow:
                starts[qrow[q]].add(node)

    vecs: dict = {}  # node -> (vector, norm); None if absent from the corpus

    def load(nodes) -> None:
        want = sorted({n for n in nodes if n not in vecs})
        if not want:
            return
        t = corpus.filter(_id_in(corpus_id, want)).select(corpus_id, corpus_vec).toArrow()
        V, vn, _ = _beam_vectors(t.column(1), d, "candidate vectors")
        vecs.update(dict.fromkeys(want))
        vecs.update(zip(t.column(0).to_pylist(), zip(V, vn)))

    def score(pairs):
        """[(query row, node)] → [(query row, node, similarity)]."""
        pairs = [(qi, n) for qi, n in pairs if vecs[n] is not None]
        if not pairs:
            return []
        qi = np.array([p[0] for p in pairs])
        V = np.array([vecs[n][0] for _, n in pairs])
        vn = np.array([vecs[n][1] for _, n in pairs])
        Qp, qnp = Q[qi], qn[qi]
        acc = np.zeros(len(pairs))
        for j in range(d):  # sequential per-dim fold
            acc += V[:, j] * Qp[:, j]
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = acc / (vn * qnp)
        sims[(vn == 0.0) | (qnp == 0.0)] = 0.0
        return [(q, n, s) for (q, n), s in zip(pairs, sims.tolist())]

    def best(items, limit):  # (similarity DESC, vec_id ASC)
        return sorted(items, key=lambda t: (-t[1], t[0]))[:limit]

    visited: list[dict] = [{} for _ in q_ids]  # node -> similarity
    seen = [set(s) for s in starts]  # never a candidate again
    unscored = [(qi, n) for qi, s in enumerate(starts) for n in sorted(s)]
    frontier = [sorted(s) for s in starts]
    for _ in range(int(hops)):
        src = sorted({n for f in frontier for n in f})
        if not src:
            break
        adj: dict = {}
        out = edges.filter(_id_in("src", src)).select("src", "dst").toArrow()
        for a, b in zip(out.column(0).to_pylist(), out.column(1).to_pylist()):
            adj.setdefault(a, set()).add(b)
        load([n for _, n in unscored] + [b for bs in adj.values() for b in bs])
        # an entry absent from the corpus is never visited, so it expands
        # nothing (every later frontier node was scored)
        cands = [
            (qi, n)
            for qi, f in enumerate(frontier)
            for n in sorted(
                {b for a in f if vecs[a] is not None for b in adj.get(a, ())} - seen[qi]
            )
        ]
        for qi, n, s in score(unscored):
            visited[qi][n] = s
        unscored = []
        per_q: list[list] = [[] for _ in q_ids]
        for qi, n, s in score(cands):
            per_q[qi].append((n, s))
        for qi, items in enumerate(per_q):
            kept = best(items, int(beam))
            visited[qi].update(kept)
            seen[qi].update(n for n, _ in kept)
            frontier[qi] = [n for n, _ in kept]
    load([n for _, n in unscored])
    for qi, n, s in score(unscored):
        visited[qi][n] = s

    rows = [
        (q, n, s)
        for qi, q in enumerate(q_ids)
        for n, s in best(visited[qi].items(), int(k))
    ]
    table = pa.table(
        {
            "query_id": [r[0] for r in rows],
            "vec_id": [r[1] for r in rows],
            "similarity": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    return spark.createDataFrame(table, out_schema)
