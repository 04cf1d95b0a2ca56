"""Graph ANN (HNSW-lite) behavior pins: recall parity at matched
candidate budget, bounded visited sets, graph well-formedness,
determinism under repartitioned input (the properties the bit-exact
oracle can't express as a single relation), and bitwise parity of the
driver-held beam search with the declarative hop plan it replaced."""

from __future__ import annotations

import math
import statistics

import pytest
from pyspark.sql import functions as F

from rag_application_with_vectordb_spark.operators.graph_ann import (
    cell_medoids,
    graph_beam_topk,
    graph_entry_points,
    knn_graph_edges,
)


@pytest.fixture(scope="module")
def specs():
    from rag_application_with_vectordb_spark.plans.registry import load_all

    return load_all()


@pytest.fixture(scope="module")
def clustered(spark):
    from rag_application_with_vectordb_spark.plans.ann_queries import (
        _cl_trained_centroids,
        _clustered_corpus_df,
    )

    corpus = _clustered_corpus_df(spark)
    cents = spark.createDataFrame(
        _cl_trained_centroids(spark, corpus), "centroid_id int, cvec array<double>"
    )
    edges = knn_graph_edges(corpus, cents, m=6).persist()
    medoids = cell_medoids(corpus, cents)  # a local relation: nothing to cache
    edges.count()
    queries = corpus.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return corpus, cents, edges, medoids, queries


def test_clustered_recall_parity_at_matched_budget(spark, specs):
    rows = specs["ann_graph_clustered_recall"].fn(spark, "/root/testdata/sf0.001").collect()
    g = statistics.mean(r["recall_graph"] for r in rows)
    i = statistics.mean(r["recall_ivf"] for r in rows)
    # graph scores <=66 candidates/query; IVF scans its whole cell (up
    # to 162). Parity within 0.05 at the matched budget is the pin.
    assert g >= 0.85, (g, i)
    assert g >= i - 0.05, (g, i)


def test_visited_budget_is_bounded(clustered):
    corpus, cents, edges, medoids, queries = clustered
    entries = graph_entry_points(queries, cents, medoids, n_entries=2)
    # k larger than any possible visited set -> returns every visited
    # node, so per-query row count IS the scored-candidate budget
    allv = graph_beam_topk(corpus, edges, entries, queries, k=10_000, beam=16, hops=4)
    per_q = {r["query_id"]: r["n"] for r in allv.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert len(per_q) == 10
    assert all(2 <= n <= 2 + 16 * 4 for n in per_q.values()), per_q


def test_edges_symmetric_bounded_no_self_loops(clustered):
    corpus, cents, edges, medoids, queries = clustered
    e = {(r["src"], r["dst"]) for r in edges.collect()}
    assert e and all(s != d for s, d in e)
    assert all((d, s) in e for s, d in e)  # symmetrized
    # every node keeps its own m=6 nearest out-edges (degree >= m after
    # symmetrization; hubs gain unbounded IN-degree — expected in kNN
    # graphs and what makes them navigable), and every node appears
    from collections import Counter

    deg = Counter(s for s, _ in e)
    assert len(deg) == corpus.count()
    assert min(deg.values()) >= 6


def test_beam_deterministic_under_repartition(clustered):
    corpus, cents, edges, medoids, queries = clustered
    entries = graph_entry_points(queries, cents, medoids, n_entries=2)

    def run(c, ed):
        return sorted(
            (r["query_id"], r["vec_id"], r["similarity"])
            for r in graph_beam_topk(c, ed, entries, queries, k=5, beam=16, hops=4).collect()
        )

    base = run(corpus, edges)
    shuffled = run(
        corpus.repartition(7, "vec_id"),
        edges.repartition(5).sortWithinPartitions(F.desc("dst")),
    )
    assert base == shuffled
    assert len(base) == 50


def _pair_join_edges(corpus, centroids, m=6, corpus_id="vec_id", corpus_vec="embedding"):
    """The pre-r13 pair-join + window edge builder (HOF cosine) — the
    bitwise reference for the applyInArrow per-cell scorer."""
    from pyspark.sql import Window

    from rag_application_with_vectordb_spark.functions.vector import (
        as_double,
        cosine_sim_prenormed,
        l2_norm,
    )
    from rag_application_with_vectordb_spark.operators.ann import ivf_assign

    assigned = ivf_assign(corpus, centroids, corpus_id, corpus_vec)
    prep = (
        assigned.select(
            F.col(corpus_id), "centroid_id", as_double(F.col(corpus_vec)).alias("__vd")
        )
        .withColumn("__n", l2_norm(F.col("__vd")))
        .persist()
    )
    a = prep.select(
        F.col(corpus_id).alias("src"), F.col("__vd").alias("__sv"),
        F.col("__n").alias("__sn"), "centroid_id",
    )
    b = prep.select(
        F.col(corpus_id).alias("dst"), F.col("__vd").alias("__dv"),
        F.col("__n").alias("__dn"), "centroid_id",
    )
    pairs = a.join(b, "centroid_id").filter(F.col("src") != F.col("dst"))
    scored = pairs.select(
        "src",
        "dst",
        cosine_sim_prenormed(
            F.col("__sv"), F.col("__sn"), F.col("__dv"), F.col("__dn")
        ).alias("__sim"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("__sim"), F.asc("dst"))
    top = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(m))
        .select("src", "dst")
    )
    return top.union(
        top.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


@pytest.mark.parametrize("n_cells", [14, 80])
def test_knn_graph_edges_matches_pair_join(spark, n_cells):
    """r13: the per-cell applyInArrow scorer replays the pair-join +
    window form's edge set exactly — both with the literal-path
    assignment (14 cells) and the mapInArrow assignment (80 > 64)."""
    from rag_application_with_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    got = {(r["src"], r["dst"]) for r in knn_graph_edges(emb, cents, m=6, dim=64).collect()}
    ref = {(r["src"], r["dst"]) for r in _pair_join_edges(emb, cents, m=6).collect()}
    assert got == ref and len(got) > 0


def test_knn_graph_edges_runs_kernel_once(spark, clustered):
    """Both edge directions come out of the one per-cell kernel: no
    union re-evaluating it, no distinct over its output."""
    corpus, cents, *_ = clustered
    # m=5: the fixture's cached m=6 edges would stand in for this plan
    plan = knn_graph_edges(corpus, cents, m=5)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInArrow") == 1, plan


def _declarative_beam_topk(
    corpus, edges, entries, queries, k=5, beam=8, hops=3,
    corpus_id="vec_id", corpus_vec="embedding", query_id="query_id", query_vec="qvec",
):
    """The replaced declarative beam search (frontier ⋈ edges → HOF
    cosine → per-query window, one persisted level per hop) — the
    bitwise reference for the driver-held ``graph_beam_topk``. Returns
    ``(schema, rows)`` and unpersists its levels."""
    from pyspark.sql import Window

    from rag_application_with_vectordb_spark.functions.vector import (
        as_double,
        cosine_sim_prenormed,
        l2_norm,
    )

    c = corpus.select(
        F.col(corpus_id).alias("vec_id"), as_double(F.col(corpus_vec)).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    q = queries.select(
        F.col(query_id).alias("query_id"), as_double(F.col(query_vec)).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))

    def score(nodes):
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

    levels = [score(entries.select("query_id", "vec_id")).persist()]
    visited = levels[0]
    frontier = visited.select("query_id", "vec_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("vec_id"))
    try:
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
            visited = visited.unionByName(new).persist()
            levels.append(visited)
            frontier = new.select("query_id", "vec_id")
        out = (
            visited.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(k))
            .drop("__rn")
        )
        return out.schema, out.collect()
    finally:
        for lv in levels:
            lv.unpersist()


def _bits(rows):
    return sorted((r["query_id"], r["vec_id"], r["similarity"].hex()) for r in rows)


@pytest.mark.parametrize("id_type", ["bigint", "int"])
@pytest.mark.parametrize("layout", ["as_built", "repartitioned"])
def test_beam_matches_declarative_reference_bitwise(clustered, id_type, layout):
    """Ids and similarity doubles bit for bit, and the output schema,
    against the retained declarative plan."""
    corpus, cents, edges, medoids, queries = clustered
    corpus = corpus.withColumn("vec_id", F.col("vec_id").cast(id_type))
    edges = edges.select(F.col("src").cast(id_type), F.col("dst").cast(id_type))
    queries = queries.withColumn("query_id", F.col("query_id").cast(id_type))
    if layout == "repartitioned":
        corpus = corpus.repartition(7)
        edges = edges.repartition(5)
    entries = graph_entry_points(queries, cents, medoids, n_entries=2).select(
        F.col("query_id"), F.col("vec_id").cast(id_type)
    )
    args = (corpus, edges, entries, queries)
    kw = dict(k=10_000, beam=16, hops=4)
    ref_schema, ref_rows = _declarative_beam_topk(*args, **kw)
    got = graph_beam_topk(*args, **kw)
    assert got.schema == ref_schema
    assert _bits(got.collect()) == _bits(ref_rows)
    assert len(ref_rows) > 10 * 16


def test_beam_leaves_no_cache_and_collects_without_jobs(spark, clustered):
    corpus, cents, edges, medoids, queries = clustered
    entries = graph_entry_points(queries, cents, medoids, n_entries=2)
    sc = spark.sparkContext
    cm = spark._jsparkSession.sharedState().cacheManager()

    def cached():
        return cm.numCachedEntries(), sorted(sc._jsc.getPersistentRDDs().keys())

    before = cached()
    out = graph_beam_topk(corpus, edges, entries, queries, k=5, beam=16, hops=4)
    assert cached() == before
    sc.setJobGroup("beam-collect", "collect the beam output")
    try:
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("beam-collect")) == []
    assert len(rows) == 50


_BAD_VECTORS = {"nan": [math.nan, 1.0], "null": None, "wrong_length": [1.0, 2.0, 3.0]}


@pytest.mark.parametrize("bad", sorted(_BAD_VECTORS))
@pytest.mark.parametrize("side", ["query", "candidate"])
def test_beam_contract_violation_is_named(spark, side, bad):
    """Four 2-d nodes, 0 → 1/2/3; the one query enters at node 0, so
    node 2 is a scored candidate."""
    vec = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [1.0, 1.0], 3: [1.0, -1.0]}
    qvec = [1.0, 0.5]
    if side == "query":
        qvec = _BAD_VECTORS[bad]
    else:
        vec[2] = _BAD_VECTORS[bad]
    corpus = spark.createDataFrame(list(vec.items()), "vec_id bigint, embedding array<double>")
    edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src bigint, dst bigint")
    entries = spark.createDataFrame([(7, 0)], "query_id bigint, vec_id bigint")
    queries = spark.createDataFrame([(7, qvec)], "query_id bigint, qvec array<double>")
    with pytest.raises(ValueError, match="graph_beam_topk"):
        graph_beam_topk(corpus, edges, entries, queries, k=3, beam=2, hops=1)


def _declarative_cell_medoids(corpus, centroids):
    """The window-plan ``cell_medoids`` that the eager kernel replaced,
    kept as its reference: per cell, the member with the highest cosine
    to the centroid (cosine DESC, id ASC)."""
    from pyspark.sql import Window

    from rag_application_with_vectordb_spark.functions.vector import cosine_sim
    from rag_application_with_vectordb_spark.operators.ann import ivf_assign

    sim = cosine_sim(F.col("embedding"), F.col("cvec"))
    joined = ivf_assign(corpus, centroids).join(F.broadcast(centroids), "centroid_id")
    w = Window.partitionBy("centroid_id").orderBy(F.desc(sim), F.asc("vec_id"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("centroid_id", "vec_id")
    )


def _declarative_entry_points(queries, centroids, medoids, n_entries):
    """The window-plan ``graph_entry_points`` that the eager ranking
    replaced, kept as its reference."""
    from pyspark.sql import Window

    from rag_application_with_vectordb_spark.functions.vector import cosine_sim

    w = Window.partitionBy("query_id").orderBy(
        F.desc(cosine_sim(F.col("qvec"), F.col("cvec"))), F.asc("centroid_id")
    )
    probe = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_entries)
        .select("query_id", "centroid_id")
    )
    return probe.join(F.broadcast(medoids), "centroid_id").select("query_id", "vec_id").distinct()


def _collect_jobs(spark, df, group):
    """``df.collect()`` and the ids of the jobs it started; ``group``
    must be unique per call, as a job group keeps its jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "collect an eager operator's output")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("layout", ["as_built", "repartitioned"])
def test_cell_medoids_match_window_reference(spark, clustered, layout):
    corpus, cents, _, _, _ = clustered
    if layout == "repartitioned":
        corpus = corpus.repartition(7)
    got = cell_medoids(corpus, cents)
    ref = _declarative_cell_medoids(corpus, cents)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in ref.schema
    ]
    rows, jobs = _collect_jobs(spark, got, f"medoids-{layout}")
    assert jobs == []
    assert sorted(map(tuple, rows)) == sorted(map(tuple, ref.collect()))
    assert len(rows) > 1


@pytest.mark.parametrize("n_entries", [1, 2, 3])
def test_entry_points_match_window_reference(spark, clustered, n_entries):
    corpus, cents, _, medoids, queries = clustered
    got = graph_entry_points(queries, cents, medoids, n_entries=n_entries)
    ref = _declarative_entry_points(queries, cents, medoids, n_entries)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in ref.schema
    ]
    rows, jobs = _collect_jobs(spark, got, f"entries-{n_entries}")
    assert jobs == []
    assert sorted(map(tuple, rows)) == sorted(map(tuple, ref.collect()))
    assert len(rows) >= 10


def test_entry_points_dim_mismatch_ranks_by_centroid_id(spark, clustered):
    """``cosine_sim`` gives -1.0 for every centroid when the dims differ,
    so the ranking falls to the lowest centroid ids."""
    _, cents, _, medoids, _ = clustered
    queries = spark.createDataFrame([(1, [1.0, 2.0])], "query_id long, qvec array<double>")
    got = graph_entry_points(queries, cents, medoids, n_entries=2).collect()
    ref = _declarative_entry_points(queries, cents, medoids, 2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


def test_entry_points_null_query_vector_is_named(spark, clustered):
    _, cents, _, medoids, _ = clustered
    queries = spark.createDataFrame([(1, None)], "query_id long, qvec array<double>")
    with pytest.raises(ValueError, match="graph_entry_points"):
        graph_entry_points(queries, cents, medoids)
