"""Deterministic fixed-iteration k-means (Lloyd's) as DataFrame ops —
the IVF coarse quantizer's training step.

Why not MLlib KMeans: its init is randomized and its iteration count is
convergence-driven, so results vary run to run — unusable where the
engine's correctness story is bit-reproducibility. This implementation
is deterministic end to end:

- init: the ``k`` corpus vectors with the smallest ids (same spirit as
  k-means|| seeding by a fixed rule);
- assignment: argmin squared-L2 (cosine-compatible if inputs are
  unit-normalized), centroid-id-asc tiebreak;
- update: element-wise mean via ``posexplode`` + groupBy — exact same
  shape as a SQL aggregation, map-side partial sums;
- stop: a fixed iteration count, not a tolerance.

Scale: each iteration is one broadcast (k×dim centroids — tiny), one
scan, and one (centroid, dim) aggregation; the corpus never shuffles.
The fp64 mean is summed across partitions, so *assignments* are
deterministic given the same centroids, and centroid drift across
partitionings stays below argmin decision boundaries in practice —
bit-exactness of the final *assignment* is what the tests pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import as_double, dot

__all__ = [
    "kmeans_fit",
    "assign_clusters",
    "kmeans_fit_spherical_fp",
    "kmeans_fit_spherical_fp_values",
    "FP_SCALE",
]

#: Fixed-point grid for :func:`kmeans_fit_spherical_fp` mean updates.
#: A power of two, so ``val * FP_SCALE`` is an exact fp64 operation
#: (exponent shift); floor then yields an exact integer.
FP_SCALE = 1 << 20


def _sq_dist(a, b):
    diff = F.zip_with(a, b, lambda x, y: x - y)
    return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x, lambda acc: acc)


def assign_clusters(
    points: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
) -> DataFrame:
    """Nearest-centroid assignment (squared L2, centroid-id tiebreak)."""
    scored = points.crossJoin(F.broadcast(centroids)).withColumn(
        "__d", _sq_dist(as_double(F.col(vec_col)), as_double(F.col(centroid_vec)))
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("__d"), F.asc(centroid_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, vec_col, centroid_id)
    )


def kmeans_fit(
    points: DataFrame,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd's; returns ``(centroid_id, cvec)``.

    Empty clusters keep their previous centroid (standard Lloyd's
    fallback, deterministic).
    """
    centroids = (
        points.orderBy(F.asc(id_col))
        .limit(int(k))
        .select(
            F.row_number().over(Window.orderBy(F.asc(id_col))).alias("centroid_id"),
            as_double(F.col(vec_col)).alias("cvec"),
        )
        .withColumn("centroid_id", F.col("centroid_id") - 1)
    )
    for _ in range(int(iterations)):
        assigned = assign_clusters(points, centroids, id_col, vec_col)
        comps = assigned.select(
            "centroid_id", F.posexplode(as_double(F.col(vec_col))).alias("dim", "val")
        )
        means = (
            comps.groupBy("centroid_id", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s.getField("m"),
                ).alias("cvec_new")
            )
        )
        centroids = (
            centroids.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("cvec_new"), F.col("cvec")).alias("cvec"),
            )
        )
    return centroids


def kmeans_fit_spherical_fp(
    points: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = FP_SCALE,
    sample_mod: int | None = None,
) -> DataFrame:
    """Spherical k-means whose trained centroids are BIT-REPRODUCIBLE in
    any engine — the oracle-checkable IVF training step.

    Plain Lloyd's means are fp64 sums whose value depends on partition
    summation order, so a trained quantizer is normally un-checkable
    against an independent engine (the round-1 ``ann_ivf_trained_topk``
    was rows-only for exactly that reason). Two changes close the gap:

    - **assignment by cosine** (max ``cosine_sim``, centroid-id-asc
      tiebreak) — a fixed-order per-row fold already proven to
      hash-match DuckDB's ``list_dot_product`` form by every green KNN
      query; spherical assignment is also what the IVF probe itself
      uses, so train and serve agree.
    - **fixed-point mean update**: each component is floored onto a
      power-of-two grid (``floor(val * scale)`` — exact, since the
      multiply is an exponent shift), summed as integers (exact and
      ORDER-INDEPENDENT), and divided back as
      ``sum / (count * scale)`` — two exactly-representable integers,
      so the fp64 quotient is correctly rounded and identical
      everywhere. Cosine ignores magnitude, so the un-normalized mean
      is a valid spherical centroid.

    Integer headroom: ``|sum| ≤ n_vectors_per_cluster * scale`` must stay
    under 2^63 (exact bigint) and ``count * scale`` under 2^53 (exact as
    fp64) — with scale 2^20 that is ~8e12 vectors per cluster; shrink
    ``scale`` if a cluster could exceed it.

    Per iteration: one map-only mapInArrow pass over the cached vectors
    that assigns each row and sums its fixed-point components per
    centroid, and one collect of at most k rows per task — nothing
    shuffles after the one repartition. Output: ``(centroid_id, cvec)``.

    ``sample_mod``: train on the deterministic ``id % sample_mod == 0``
    subsample instead of the full corpus — the standard IVF practice
    (FAISS trains its coarse quantizer on ~hundreds of vectors per
    centroid, not the corpus): at 100 TB a full-corpus Lloyd's pass per
    iteration is pure waste, and a uniform sample's centroids are
    statistically the same quantizer. The modulus filter (not
    ``DataFrame.sample``) keeps the subsample engine-reproducible, so the
    trained centroids remain bit-identical in the DuckDB oracle.

    The result is a local relation built from an Arrow table (k×dim
    doubles): collecting or broadcasting it starts no job, so the
    centroid collects of ``ivf_assign`` / ``ann_ivf_topk`` /
    ``cell_medoids`` / ``graph_entry_points`` read it for free.
    """
    import pyarrow as pa

    cents = kmeans_fit_spherical_fp_values(
        points, k, iterations, id_col, vec_col, scale, sample_mod
    )
    table = pa.table(
        {
            "centroid_id": pa.array([cid for cid, _ in cents], pa.int32()),
            "cvec": pa.array([cvec for _, cvec in cents], pa.list_(pa.float64())),
        }
    )
    return points.sparkSession.createDataFrame(
        table, "centroid_id int, cvec array<double>"
    )


def kmeans_fit_spherical_fp_values(
    points: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = FP_SCALE,
    sample_mod: int | None = None,
) -> list[tuple[int, list[float]]]:
    """:func:`kmeans_fit_spherical_fp`, returning the trained centroids
    as plain driver-side values (k×dim doubles — the same sanctioned
    boundary as ask()'s k rows). Index *build* is an offline stage in a
    real deployment (the quantizer is trained once and stored; serving
    only loads it), so callers that issue many queries against one
    corpus should train once via this function and reuse the values —
    training is deterministic, making the reuse result-invisible."""
    s = int(scale)
    if sample_mod is not None and int(sample_mod) > 1:
        points = points.filter(F.col(id_col) % int(sample_mod) == 0)

    # Centroids live on the driver between iterations (k×dim doubles —
    # the same sanctioned boundary as ask()'s k rows). Each iteration is
    # ONE map-only mapInArrow pass (:func:`_fp_partial_sums`) over the
    # cached vectors and one collect of k×dim integer partial sums per
    # task: no shuffle, and the lazy plan never re-derives earlier
    # iterations.
    init = points.orderBy(F.asc(id_col)).limit(int(k)).select(id_col, vec_col).collect()
    init.sort(key=lambda r: r[id_col])
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in r[vec_col]]) for i, r in enumerate(init)
    ]
    # Spread the vectors across the session's cores (the fixture's
    # single-file scan is 1 partition, which would serialize every
    # iteration's argmax onto one core) and cache them so each Lloyd
    # iteration re-reads the in-memory columnar batches instead of
    # re-scanning parquet. The repartition is result-safe: assignment is
    # per-row and the mean update sums exact integers (order-independent).
    parallelism = points.sparkSession.sparkContext.defaultParallelism
    pre = points.select(F.col(vec_col).alias("__v")).repartition(parallelism).persist()
    try:
        for _ in range(int(iterations) if cents else 0):
            fp_sums: dict[int, list[int]] = {}
            counts: dict[int, int] = {}
            for r in _fp_partial_sums(pre, cents, s).collect():
                cid = int(r["centroid_id"])
                prev = fp_sums.get(cid)
                part = list(r["fp_sum"])
                fp_sums[cid] = part if prev is None else [x + y for x, y in zip(prev, part)]
                counts[cid] = counts.get(cid, 0) + int(r["n"])
            # exact ints → correctly-rounded fp64 quotient, identical to
            # the oracle's CAST(fp_sum AS DOUBLE)/CAST(n*scale AS DOUBLE)
            cents = [
                (cid, [x / (counts[cid] * s) for x in fp_sums[cid]]) if cid in fp_sums else (cid, cvec)
                for cid, cvec in cents  # empty cluster keeps its previous centroid
            ]
    finally:
        pre.unpersist()
    return cents


def _fp_partial_sums(vectors: DataFrame, cents: list[tuple[int, list[float]]], scale: int) -> DataFrame:
    """One Lloyd step's statistics as ONE map-only mapInArrow pass over
    the single vector column of ``vectors``: each row goes to its
    nearest centroid (max cosine, lowest id on ties — the ``ivf_assign``
    contract, through the same numpy kernel as ``_assign_arrow``), and
    each task emits, per centroid it saw, ``(centroid_id, fp_sum, n)``
    with ``fp_sum[j] = Σ floor(v[j] * scale)`` as exact integers — at
    most k rows per task for the driver to add up."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from .ann import _arrow_f64_matrix, _fold_norms, _nearest_rows

    mat = [v for _, v in cents]
    ids = [c for c, _ in cents]
    out_schema = StructType(
        [
            StructField("centroid_id", LongType(), True),
            StructField("fp_sum", ArrayType(LongType()), True),
            StructField("n", LongType(), True),
        ]
    )

    def partial_sums(batches):
        import numpy as np
        import pyarrow as pa

        C = np.asarray(mat, dtype=np.float64)  # (k, dim), ascending cid
        cn = _fold_norms(C)
        k, d = C.shape
        tot = np.zeros((k, d), dtype=np.int64)
        cnt = np.zeros(k, dtype=np.int64)
        for batch in batches:
            vec = batch.column(0)
            if len(vec) == 0:
                continue
            V, _ = _arrow_f64_matrix(vec, d)
            best, _ = _nearest_rows(V, C, cn, "kmeans_fit_spherical_fp")
            # val * scale is exact (a power-of-two exponent shift), so the
            # floor is the same integer Spark's floor(val * scale) gives
            np.add.at(tot, best, np.floor(V * float(scale)).astype(np.int64))
            cnt += np.bincount(best, minlength=k)
        seen = np.flatnonzero(cnt)
        yield pa.record_batch(
            [
                pa.array(np.asarray(ids, dtype=np.int64)[seen]),
                pa.array(list(tot[seen]), pa.list_(pa.int64())),
                pa.array(cnt[seen]),
            ],
            names=["centroid_id", "fp_sum", "n"],
        )

    return vectors.mapInArrow(partial_sums, out_schema)


def inertia(points: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> float:
    """Σ min-squared-distance — the quantity Lloyd's monotonically
    non-increases (up to fp); used by tests as the convergence check."""
    assigned = assign_clusters(points, centroids, id_col, vec_col)
    joined = assigned.join(F.broadcast(centroids), "centroid_id")
    return joined.select(
        F.sum(_sq_dist(as_double(F.col(vec_col)), as_double(F.col("cvec")))).alias("s")
    ).first()["s"]


def nearest_centroid_ids_l2(
    vd, cents: list[tuple[int, list[float]]], nprobe: int = 1
):
    """``array<long>`` of the ``nprobe`` nearest literal centroids by
    SQUARED L2 (min distance, centroid-id-asc tiebreak) — the Euclidean
    twin of ``operators.ann.nearest_centroid_ids``, same single-Literal
    matrix construction. The distance is ``dot(diff, diff)`` over the
    proven sequential dot fold, so the value is bit-reproducible in
    DuckDB as ``list_dot_product(diff, diff)``."""
    mat = [[float(x) for x in cvec] for _, cvec in cents]
    ids = [int(cid) for cid, _ in cents]
    from ..functions.vector import lit_double_matrix, lit_longs

    cmat, cids = lit_double_matrix(mat), lit_longs(ids)

    def dist(i):
        diff = F.zip_with(vd, F.element_at(cmat, i + 1), lambda x, y: x - y)
        return dot(diff, diff)

    ranked = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda i: F.struct(
                dist(i).alias("d"), F.element_at(cids, i + 1).cast("long").alias("cid")
            ),
        )
    )
    return F.transform(F.slice(ranked, 1, int(nprobe)), lambda s: s["cid"])


def kmeans_fit_l2_fp_values(
    points: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = FP_SCALE,
    sample_mod: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Squared-L2 Lloyd's with the fixed-point mean update of
    :func:`kmeans_fit_spherical_fp` — the EUCLIDEAN trained quantizer,
    bit-reproducible cross-engine (assignment is the sequential
    ``dot(diff, diff)`` fold; the mean is exact-integer arithmetic).
    Replaces the fp64-mean ``kmeans_fit`` wherever a trained-L2
    quantizer must be value-checked (``ann_ivf_trained_topk``)."""
    s = int(scale)
    if sample_mod is not None and int(sample_mod) > 1:
        points = points.filter(F.col(id_col) % int(sample_mod) == 0)
    init = points.orderBy(F.asc(id_col)).limit(int(k)).select(id_col, vec_col).collect()
    init.sort(key=lambda r: r[id_col])
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in r[vec_col]]) for i, r in enumerate(init)
    ]
    parallelism = points.sparkSession.sparkContext.defaultParallelism
    pre = (
        points.select(as_double(F.col(vec_col)).alias("__vd"))
        .repartition(parallelism)
        .persist()
    )
    try:
        for _ in range(int(iterations)):
            nearest = nearest_centroid_ids_l2(F.col("__vd"), cents, nprobe=1)
            assigned = pre.select(
                F.element_at(nearest, 1).alias("centroid_id"), F.col("__vd")
            )
            comps = assigned.select(
                "centroid_id", F.posexplode("__vd").alias("dim", "val")
            )
            sums = comps.groupBy("centroid_id", "dim").agg(
                F.sum(F.floor(F.col("val") * F.lit(float(s))).cast("long")).alias("fp_sum"),
                F.count("*").alias("n"),
            ).collect()
            by_cid: dict[int, dict[int, float]] = {}
            for r in sums:
                by_cid.setdefault(int(r["centroid_id"]), {})[r["dim"]] = r["fp_sum"] / (r["n"] * s)
            cents = [
                (cid, [by_cid[cid][j] for j in range(len(cvec))]) if cid in by_cid else (cid, cvec)
                for cid, cvec in cents
            ]
    finally:
        pre.unpersist()
    return cents
