"""Deterministic k-means tests: convergence, determinism, IVF wiring."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_application_with_vectordb_spark.operators.ann import ann_ivf_topk
from rag_application_with_vectordb_spark.operators.kmeans import (
    assign_clusters,
    inertia,
    kmeans_fit,
    kmeans_fit_spherical_fp,
)
from rag_application_with_vectordb_spark.operators.knn import knn_join
from rag_application_with_vectordb_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_inertia_decreases_with_training(spark, emb):
    init = kmeans_fit(emb, k=8, iterations=0)
    trained = kmeans_fit(emb, k=8, iterations=4)
    assert inertia(emb, trained) <= inertia(emb, init)


def test_fit_is_deterministic(spark, emb):
    a = kmeans_fit(emb, k=4, iterations=3).collect()
    b = kmeans_fit(emb, k=4, iterations=3).collect()
    assert {(r["centroid_id"], tuple(r["cvec"])) for r in a} == {
        (r["centroid_id"], tuple(r["cvec"])) for r in b
    }


def test_every_point_assigned_once(spark, emb):
    cents = kmeans_fit(emb, k=4, iterations=2)
    assigned = assign_clusters(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()


def test_spherical_fp_partitioning_invariant(spark, emb):
    # THE property that makes the trained IVF oracle-checkable: the
    # fixed-point mean update sums exact integers, so the trained
    # centroids are BITWISE identical no matter how the corpus is
    # partitioned (a plain fp64 mean would differ in the last ulps).
    wide = kmeans_fit_spherical_fp(emb.repartition(7), k=4, iterations=2).collect()
    narrow = kmeans_fit_spherical_fp(emb.coalesce(1), k=4, iterations=2).collect()
    a = {(r["centroid_id"], tuple(r["cvec"])) for r in wide}
    b = {(r["centroid_id"], tuple(r["cvec"])) for r in narrow}
    assert a == b


def test_spherical_fp_probe_all_is_exact(spark, emb):
    cents = kmeans_fit_spherical_fp(emb, k=4, iterations=2)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    approx = ann_ivf_topk(emb, cents, queries, k=5, nprobe=4)
    exact = knn_join(emb, queries, k=5)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert a == e


def test_ivf_literal_assignment_is_shuffle_free(spark, emb):
    # The literal-centroid fast path's scale claim: corpus inversion is a
    # pure per-row projection — the plan must contain NO Exchange (the
    # window-based fallback shuffles the whole corpus by vec_id).
    from rag_application_with_vectordb_spark.operators.ann import ivf_assign

    cents = kmeans_fit_spherical_fp(emb, k=4, iterations=1)
    inverted = ivf_assign(emb, cents)
    plan = inverted._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_trained_ivf_probe_all_is_exact(spark, emb):
    # trained centroids + probe-all == exact KNN (same invariant as the
    # untrained IVF test, now through the k-means path)
    cents = kmeans_fit(emb, k=4, iterations=2).select(
        "centroid_id", F.col("cvec").alias("cvec")
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    approx = ann_ivf_topk(emb, cents, queries, k=5, nprobe=4)
    exact = knn_join(emb, queries, k=5)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert a == e


def test_spherical_fp_result_collects_without_jobs(spark, emb):
    """The trained centroids are a local relation: every consumer's
    collect or broadcast of them reads driver memory, not a scan."""
    cents = kmeans_fit_spherical_fp(emb, k=4, iterations=1)
    assert cents.schema.simpleString() == "struct<centroid_id:int,cvec:array<double>>"
    sc = spark.sparkContext
    sc.setJobGroup("kmeans-centroids", "collect the trained centroids")
    try:
        rows = cents.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("kmeans-centroids")) == []
    assert [r["centroid_id"] for r in rows] == [0, 1, 2, 3]
